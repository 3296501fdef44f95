package graft

/** Plan-quality regression guards: the properties that make the headline
  * queries scale (pushdown, pruning, broadcast dims, single-scan LSH) are
  * asserted on the physical plan, so a refactor that silently loses one —
  * a filter that stops reaching the scan, a dim that falls back to a
  * sort-merge join, an ANN path that rescans — fails CI instead of
  * surfacing as a 100× regression on a cluster.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def executedPlan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  /** The persisted-index co-location claim, asserted on the plan object:
    * the scan of the (ever-growing) table is bucketed and NO shuffle
    * exchange sits anywhere above it — only the day's batch moves.
    */
  private def assertIndexSideUnshuffled(
      plan: org.apache.spark.sql.execution.SparkPlan, pathFrag: String): Unit = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def isIdxScan(p: SparkPlan): Boolean = p match {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.exists(_.toString.contains(pathFrag))
      case _ => false
    }
    def isJoin(p: SparkPlan): Boolean =
      p.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec]
    val scans = plan.collect { case p if isIdxScan(p) => p }
    assert(scans.nonEmpty, s"index scan $pathFrag not found:\n$plan")
    assert(scans.forall { case f: FileSourceScanExec => f.bucketedScan },
      s"index scan $pathFrag is not bucketed:\n$plan")
    // a shuffle of the (small) post-join result is fine; a shuffle whose
    // subtree reaches the scan WITHOUT passing a join re-shuffles the
    // index rows themselves — the cost the bucketed layout exists to avoid
    val shuffled = plan.collect {
      case s: ShuffleExchangeExec if {
        def reachesScanUnjoined(p: SparkPlan): Boolean =
          isIdxScan(p) || (!isJoin(p) && p.children.exists(reachesScanUnjoined))
        s.children.exists(reachesScanUnjoined)
      } => s
    }
    assert(shuffled.isEmpty, s"the $pathFrag index side is shuffled:\n$plan")
  }

  test("q02 pushes every predicate into the parquet scan and prunes columns") {
    val p = executedPlan("q02_filter_project")
    assert(p.contains("PushedFilters: ["), s"no pushed filters:\n$p")
    // all four predicates reach the scan
    for (f <- Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount", "LessThanOrEqual(l_discount"))
      assert(p.contains(f), s"predicate $f not pushed:\n$p")
    val schema = "ReadSchema: struct<(.*?)>".r.findFirstMatchIn(p).map(_.group(1))
    assert(schema.exists(_.split(",").length <= 4),
      s"scan reads more columns than the query needs: $schema")
  }

  test("q05 star join broadcasts every dimension (no sort-merge fallback)") {
    val p = executedPlan("q05_star_join")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).size
    assert(broadcasts >= 4, s"expected >=4 broadcast joins, got $broadcasts:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dimension fell back to sort-merge:\n$p")
  }

  test("s02 LSH computes signatures in a single scan of the table side") {
    val p = executedPlan("s02_knn_lsh")
    // one probe-side scan + one broadcast query-side scan; the round-1
    // anti-pattern was one scan per hash table (4×). Formatted mode lists
    // every physical node once as "(n) Scan parquet".
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).size
    assert(scans <= 2, s"LSH rescans the table ($scans scans):\n$p")
    assert(p.contains("hyperplane_sigs"), s"codegen signature kernel missing:\n$p")
    assert(p.contains("arrays_overlap"), s"native any-table match missing:\n$p")
  }

  test("s05 probes the persisted IVF index with cell partition pruning") {
    val p = executedPlan("s05_knn_ivf_indexed")
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(p).isDefined,
      s"probe's cell IN-list is not a partition filter:\n$p")
    // one index scan + one (broadcast) query-side scan — the probe never
    // re-reads the corpus for assignment (that was s03's scale-killer)
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).size
    assert(scans <= 2, s"IVF probe rescans the corpus ($scans scans):\n$p")
  }

  test("t10/t12 token aggregations partial-aggregate map-side, no window sort") {
    for (q <- Seq("t10_repetition", "t12_rare_tokens")) {
      val p = executedPlan(q)
      assert(p.contains("partial_"),
        s"$q shuffles raw tokens instead of map-side partials:\n$p")
      assert(!p.contains("Window"), s"$q regressed to a window sort:\n$p")
      // raw token OCCURRENCES must never be a shuffle payload: every
      // Exchange keyed on the token column has to carry a partial
      // count/sum alongside it (i.e. a map-side aggregate sits below the
      // exchange). This is the non-vacuous form of the guard — it checks
      // the JOIN input too, not just "some partial aggregate exists".
      for (b <- p.split("\\n\\(\\d+\\) ")
           if b.startsWith("Exchange") && b.contains("hashpartitioning") &&
             b.contains("__t")) {
        assert(b.contains("count#") || b.contains("sum#"),
          s"$q shuffles raw token occurrences on a token key:\n$b")
      }
    }
  }

  /** The corpus-first-winner contract shared by d08/d18/d19 (see
    * Dedup.markCorpusFirst): NO window over the hot content key — a
    * `min(struct).over(Window.partitionBy(key))` sorts a universal
    * boilerplate key's whole containing-doc set in ONE task at corpus
    * scale; instead the winner is a partial-aggregated min whose exchange
    * is bounded per map partition, joined back on a composite key that
    * includes the (unskewed) doc id; and the collapsed skeleton is
    * materialized exactly once, so the winner branch never re-runs the
    * dominant explode+collapse stage.
    */
  private def assertSaltedCorpusFirst(q: String, parquetScans: Int): Unit = {
    val p = executedPlan(q)
    assert(!p.contains("Window"),
      s"$q regressed to a hot-key window sort:\n$p")
    // winners combine map-side: partial_min(struct(id, pos)) below the
    // key-only exchange bounds it to one candidate per key per partition
    assert(p.contains("partial_min(struct("),
      s"$q winner min is not partial-aggregated:\n$p")
    // the join-back exchange hashes on (key..., id, pos) — the id spreads
    // a hot key's rows; a key-only join exchange would re-concentrate them
    assert("hashpartitioning\\([^\\n]*isnull\\([^\\n]*\\w+#\\d+L?, pos#\\d+".r
      .findFirstIn(p).isDefined,
      s"$q join-back does not spread the hot key over (id, pos):\n$p")
    // the skeleton materializes ONCE: both consumers read the same
    // persisted RDD (winner derivation must not re-run explode+collapse)
    val rdds = "MapPartitionsRDD\\[\\d+\\] at persistedCopy".r.findAllIn(p).toSeq
    assert(rdds.size == 2 && rdds.distinct.size == 1,
      s"$q skeleton is not shared-once (${rdds.size} reads, ${rdds.distinct.size} RDDs):\n$p")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).size
    assert(scans == parquetScans,
      s"$q re-scans the corpus ($scans parquet scans, want $parquetScans):\n$p")
  }

  test("d08 span dedup: salted corpus-first winner, skeleton shared once") {
    // 0 outer parquet scans: the one corpus scan lives inside the
    // persisted skeleton's lineage
    assertSaltedCorpusFirst("d08_span_dedup", parquetScans = 0)
  }

  test("d18 line dedup: salted corpus-first winner, skeleton shared once") {
    assertSaltedCorpusFirst("d18_line_dedup", parquetScans = 0)
  }

  test("d19 substring dedup: salted corpus-first winner + one reassembly scan") {
    // 1 outer parquet scan: reassembly re-reads the corpus (the d16
    // 2-scan shape; the skeleton-building scan is inside the persisted RDD)
    assertSaltedCorpusFirst("d19_substring_dedup", parquetScans = 1)
  }

  test("d20 maximal-repeat dedup: salted corpus-first winner + one reassembly scan") {
    // the variable-length tier rides the same shared removal middle as
    // d19 (removedWindowStarts): same no-window, partial-min, composite
    // join-back shape; extent statistics add NO shuffle (row-local fold)
    assertSaltedCorpusFirst("d20_maximal_repeat_dedup", parquetScans = 1)
  }

  test("t24 html extraction stays a scan-local projection") {
    val p = executedPlan("t24_html_text")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"t24 should read documents once:\n$p")
    // the whole chain is row-local: the only exchange is the final ORDER
    // BY's range partitioning — a hash exchange would mean the chain
    // smuggled in an aggregation/join
    assert(!p.contains("hashpartitioning"),
      s"html chain introduced a hash exchange:\n$p")
  }

  test("t27 bm25: row-local scoring, single stats broadcast, no term shuffle") {
    val p = executedPlan("t27_bm25_search")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).size
    assert(scans == 2, s"bm25 should scan documents twice (stats + score):\n$p")
    // no explode anywhere — tf is a size(filter()) column, so no
    // term-keyed exchange can exist
    assert(!p.contains("Generate"), s"bm25 exploded tokens:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"stats row is not broadcast:\n$p")
  }

  test("t29 bm25 probe serves from the index: no corpus scan, pruned buckets") {
    val p = executedPlan("t29_bm25_indexed")
    // the serve-side contract: the probe reads the query's term buckets
    // of the postings table — never the documents corpus
    assert(!p.contains("documents.parquet"),
      s"indexed probe scans the corpus:\n$p")
    assert(p.contains("graft_bm25_"), s"probe does not read the index:\n$p")
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(p)
    assert(sel.isDefined, s"no bucket pruning in probe plan:\n$p")
    assert(sel.get.group(1).toInt < sel.get.group(2).toInt,
      "probe read every bucket")
  }

  test("d07 bloom contamination prunes corpus grams map-side, below any shuffle") {
    val p = executedPlan("d07_contamination_bloom")
    // the mightContain prune is a plain Filter on the exploded gram column
    assert("Condition : UDF\\(__g".r.findFirstIn(p).isDefined,
      s"bloom mightContain prune missing from the plan:\n$p")
    // corpus grams never shuffle: gram-keyed exchanges may appear only on
    // the benchmark side (whose rows are just __g — including inside its
    // cached-build plan); an exchange carrying doc_id alongside the gram
    // key would be the corpus exploding onto the wire, exactly what the
    // map-side prune exists to prevent. The exact-verify join broadcasts.
    for (b <- p.split("\\n\\s*\\(\\d+\\) ")
         if b.startsWith("Exchange") && b.contains("hashpartitioning(__g")) {
      assert(!b.contains("doc_id"),
        s"corpus grams are shuffled on the gram key:\n$b")
    }
    assert(p.contains("BroadcastHashJoin"),
      s"exact-verify join fell back from broadcast:\n$p")
  }

  test("d16 decontamination broadcasts bench grams; corpus grams never shuffle") {
    val p = executedPlan("d16_decontaminate_spans")
    // the gram-hit join must broadcast the (tiny, curated) benchmark set —
    // a fallback shuffles every exploded corpus gram, the cost the
    // map-side shape exists to avoid
    assert(p.contains("BroadcastHashJoin"),
      s"bench gram join fell back from broadcast:\n$p")
    // gram-keyed exchanges may appear only on the BENCHMARK side (its
    // distinct — rows are just __g); an exchange carrying doc_id or __p
    // alongside the gram key would be the exploded corpus on the wire,
    // exactly what the broadcast shape exists to prevent (d07's rule)
    for (b <- p.split("\\n\\s*\\(\\d+\\) ")
         if b.startsWith("Exchange") && b.contains("hashpartitioning(__g")) {
      assert(!b.contains("doc_id") && !b.contains("__p"),
        s"corpus grams are shuffled on the gram key:\n$b")
    }
  }

  test("semantic pairing windows carry skeleton rows, never the vectors") {
    // the cell-size count and the mega-cell successor chain are windows
    // partitioned by cell — a degenerate mega-cell funnels ONE window task,
    // so those windows must see (cell, id, fingerprint) rows only; vectors
    // rejoin by the unskewed id key after pairing
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val p = graft.dedup.Dedup.semanticDupEdges(emb, "vec_id", "embedding",
        threshold = 0.8, nCentroids = 4, lloydIters = 1, maxCell = 50)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val windows = p.split("\\n\\s*\\(\\d+\\) ").filter(_.startsWith("Window"))
    assert(windows.nonEmpty, s"expected cell-keyed windows in the plan:\n$p")
    for (b <- windows)
      assert(!b.contains("embedding"),
        s"a pairing window carries the embedding payload:\n$b")
  }

  test("registry anti-join never shuffles the registry side (bucketed scan)") {
    // the L27 scale claim: the side that grows without bound — the
    // registry — is read in place (bucketed on content_hash), and only the
    // day's batch moves. Pinned on the STATIC non-broadcast plan (AQE and
    // auto-broadcast off), because at test scale AQE would broadcast the
    // tiny registry and hide the shape that matters at 100 TB.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.dedup.Dedup
    graft.sources.Warehouse.dropTableAndLocation(spark, "reg_guard")
    Dedup.createRegistry(spark, "reg_guard", buckets = 4)
    import spark.implicits._
    Dedup.dedupAgainstRegistry(
      Seq((1L, "seed document text")).toDF("doc_id", "text"),
      "text", "doc_id", "reg_guard").count()
    val (aqe, bcast) = (spark.conf.get("spark.sql.adaptive.enabled"),
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = Dedup.dedupAgainstRegistry(
        Seq((2L, "fresh doc"), (3L, "seed document text")).toDF("doc_id", "text"),
        "text", "doc_id", "reg_guard", update = false)
        .queryExecution.executedPlan
      def isRegScan(p: SparkPlan): Boolean = p match {
        case f: FileSourceScanExec =>
          f.relation.location.rootPaths.exists(_.toString.contains("reg_guard"))
        case _ => false
      }
      val regScans = plan.collect { case p if isRegScan(p) => p }
      assert(regScans.nonEmpty, s"registry scan not found:\n$plan")
      assert(regScans.forall {
        case f: FileSourceScanExec => f.bucketedScan
        case _ => false
      }, s"registry scan is not bucketed:\n$plan")
      val shufflesOverRegistry = plan.collect {
        case s: ShuffleExchangeExec if s.collect { case p if isRegScan(p) => p }.nonEmpty => s
      }
      assert(shufflesOverRegistry.isEmpty,
        s"the registry side is shuffled:\n$plan")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
    }
  }

  test("chunk-registry anti-join never shuffles the registry side (bucketed scan)") {
    // L87b's scale claim, d12's shape for chunk identity: the chunk
    // registry (the unbounded side) is read in place bucketed on
    // chunk_hash; only the batch's winner skeletons move.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.dedup.Cdc
    graft.sources.Warehouse.dropTableAndLocation(spark, "chunkreg_guard")
    Cdc.createChunkRegistry(spark, "chunkreg_guard", buckets = 4)
    import spark.implicits._
    val blob = Array.tabulate[Byte](4000)(i => (i * 31).toByte)
    Cdc.newChunksAgainstRegistry(
      Seq((1L, blob)).toDF("media_id", "content"), "content", "media_id",
      "chunkreg_guard", minSize = 64, avgBits = 7, maxSize = 512).count()
    val (aqe, bcast) = (spark.conf.get("spark.sql.adaptive.enabled"),
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val blob2 = Array.tabulate[Byte](4000)(i => (i * 37).toByte)
      val plan = Cdc.newChunksAgainstRegistry(
        Seq((2L, blob2)).toDF("media_id", "content"), "content", "media_id",
        "chunkreg_guard", update = false,
        minSize = 64, avgBits = 7, maxSize = 512)
        .queryExecution.executedPlan
      def isRegScan(p: SparkPlan): Boolean = p match {
        case f: FileSourceScanExec =>
          f.relation.location.rootPaths.exists(_.toString.contains("chunkreg_guard"))
        case _ => false
      }
      val regScans = plan.collect { case p if isRegScan(p) => p }
      assert(regScans.nonEmpty, s"chunk-registry scan not found:\n$plan")
      assert(regScans.forall {
        case f: FileSourceScanExec => f.bucketedScan
        case _ => false
      }, s"chunk-registry scan is not bucketed:\n$plan")
      val antiRights = plan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
            if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j.right
      }
      assert(antiRights.nonEmpty, s"anti-join not found:\n$plan")
      val regSide = antiRights.filter(r =>
        r.collect { case p if isRegScan(p) => p }.nonEmpty)
      assert(regSide.nonEmpty, s"registry not on an anti-join side:\n$plan")
      assert(regSide.forall(_.collect {
        case s: ShuffleExchangeExec => s }.isEmpty),
        s"the chunk-registry side is shuffled:\n$plan")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
    }
  }

  test("heavy hitters recount: broadcast semi join, bounded shuffles, no full-cardinality agg") {
    // L88's scale claim: the full-corpus scan reaches its aggregate only
    // THROUGH the broadcast candidate semi join, so no aggregate state
    // ever scales with distinct-key cardinality; every exchange in the
    // plan carries either the bounded candidate/total frames (summary
    // lineage, ≤ tasks·(k+1) rows) or the bounded recount partials.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import spark.implicits._
    val df = (Seq.fill(500)("hot") ++ (0 until 400).map(i => s"u$i"))
      .toDF("key")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val plan = try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      graft.operators.HeavyHitters.heavyHitters(df, "key", 100000L)
        .queryExecution.executedPlan
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    val semis = plan.collect {
      case j: BroadcastHashJoinExec
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
    }
    assert(semis.nonEmpty, s"broadcast semi join not found:\n$plan")
    val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.size <= 3,
      s"unexpected exchanges beyond candidates/total/recount:\n$plan")
    // the semi join sits BELOW the aggregate: no aggregate node appears
    // under the join's stream side
    val aggsUnderJoin = semis.flatMap(_.left.collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a })
    assert(aggsUnderJoin.isEmpty,
      s"an aggregate ran before the candidate filter:\n$plan")
  }

  test("line-registry anti-join never shuffles the registry side (bucketed scan)") {
    // the L74 scale claim, d12's shape for line identity: the line-hash
    // registry (the unbounded side) is read in place bucketed on the
    // hash; only the day's winner skeletons move. Static non-broadcast
    // plan for the same reason as the d12 guard.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.dedup.Dedup
    graft.sources.Warehouse.dropTableAndLocation(spark, "linereg_guard")
    Dedup.createLineRegistry(spark, "linereg_guard", buckets = 4)
    import spark.implicits._
    Dedup.dedupLinesAgainstRegistry(
      Seq((1L, "nav menu\nseed line")).toDF("doc_id", "text"),
      "text", "doc_id", "linereg_guard").count()
    val (aqe, bcast) = (spark.conf.get("spark.sql.adaptive.enabled"),
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = Dedup.dedupLinesAgainstRegistry(
        Seq((2L, "nav menu\nfresh line")).toDF("doc_id", "text"),
        "text", "doc_id", "linereg_guard", update = false)
        .queryExecution.executedPlan
      def isRegScan(p: SparkPlan): Boolean = p match {
        case f: FileSourceScanExec =>
          f.relation.location.rootPaths.exists(_.toString.contains("linereg_guard"))
        case _ => false
      }
      val regScans = plan.collect { case p if isRegScan(p) => p }
      assert(regScans.nonEmpty, s"line-registry scan not found:\n$plan")
      assert(regScans.forall {
        case f: FileSourceScanExec => f.bucketedScan
        case _ => false
      }, s"line-registry scan is not bucketed:\n$plan")
      // the registry rows must reach their anti-join in place: no exchange
      // between the scan and the join's registry side (the doc-keyed
      // reassembly above the join shuffles ITS OWN rows, which is fine)
      val antiRights = plan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
            if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j.right
      }
      assert(antiRights.nonEmpty, s"anti-join not found:\n$plan")
      val regSide = antiRights.filter(r =>
        r.collect { case p if isRegScan(p) => p }.nonEmpty)
      assert(regSide.nonEmpty, s"registry not on an anti-join side:\n$plan")
      assert(regSide.forall(_.collect {
        case s: ShuffleExchangeExec => s }.isEmpty),
        s"the line-registry side is shuffled:\n$plan")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
    }
  }

  test("hamming band self-join reuses the cap window's exchange (one shuffle, skeletons only)") {
    // the within-run engine's claim: banded rows are exchanged ONCE — the
    // cap window's (band, bucket) shuffle — and the self-join's second
    // side is a ReusedExchange of it; no exchange carries text
    import graft.dedup.Dedup
    import spark.implicits._
    val sk = (1L to 50L).map(i => (i, i * 0x9E3779B97F4A7C15L)).toDF("id", "h")
    val (aqe, bcast) = (spark.conf.get("spark.sql.adaptive.enabled"),
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val p = try {
      Dedup.hammingBandPairs(sk, Nil, maxHamming = 3, maxBucket = 1000)
        .queryExecution.executedPlan.toString
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
    }
    assert(p.contains("ReusedExchange"),
      s"band self-join re-shuffles instead of reusing the window exchange:\n$p")
  }

  test("hamming index probe shuffles fingerprint skeletons, never text or content") {
    // L37's skewable stage is the (band, bucket) join against the
    // persisted hamming index: its exchanges may carry the 8-byte
    // fingerprint (it IS the verify payload) but never the document text
    // or media content — those ride only the final unskewed id anti-join
    import graft.dedup.Dedup
    import spark.implicits._
    for (t <- Seq("ham_guard", "ham_guard_hspec"))
      graft.sources.Warehouse.dropTableAndLocation(spark, t)
    Dedup.writeHammingIndex(
      Seq((1L, 0x0123456789abcdefL)).toDF("id", "h"),
      "ham_guard", maxHamming = 3, buckets = 4)
    val batch = Seq((10L, "a batch document with enough words to sign here"))
      .toDF("doc_id", "text")
    val (aqe, bcast) = (spark.conf.get("spark.sql.adaptive.enabled"),
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val (p, planObj) = try {
      val qe = Dedup.hammingDupIdsAgainstIndex(
          batch.select($"doc_id".as("id"), Dedup.simhash($"text").as("h")),
          "ham_guard")
        .queryExecution
      (qe.explainString(org.apache.spark.sql.execution.FormattedMode),
        qe.executedPlan)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
    }
    var sawBandExchange = false
    for (b <- p.split("\\n\\s*\\(\\d+\\) ") if b.startsWith("Exchange")) {
      assert(!b.contains("text") && !b.contains("content"),
        s"an exchange carries payload:\n$b")
      if (b.contains("bucket")) sawBandExchange = true
    }
    assert(sawBandExchange, s"expected a (band, bucket)-keyed exchange in:\n$p")
    // the composite-bucketed co-location claim: only the batch shuffles
    assertIndexSideUnshuffled(planObj, "ham_guard")
  }

  test("near-index candidate join shuffles band skeletons, never text or signatures") {
    // L33's skewable stage is the (band, bucket) join: its exchanges must
    // carry (id, band, bucket) skeletons only. The batch text feeds the
    // signature pass behind a persisted-copy boundary, so no text (or
    // 512-byte signature array) may appear anywhere in the final plan's
    // exchanges — signatures join back on the unskewed id keys
    import graft.dedup.Dedup
    import spark.implicits._
    for (t <- Seq("mh_guard", "mh_guard_sigs", "mh_guard_mhspec"))
      graft.sources.Warehouse.dropTableAndLocation(spark, t)
    Dedup.writeMinhashIndex(
      Seq((1L, "a corpus document with enough words to band and sign here"))
        .toDF("doc_id", "text"), "text", "doc_id", "mh_guard", buckets = 4)
    val batch = Seq((10L, "a batch document with enough words to band and sign too"))
      .toDF("doc_id", "text")
    // pin the non-broadcast shape: at test scale the 1-row index would
    // broadcast and hide the bucket-keyed exchange that exists at 100 TB
    val (aqe, bcast) = (spark.conf.get("spark.sql.adaptive.enabled"),
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val (p, planObj) = try {
      // the lazy twin: the public wrapper eagerly checkpoints (cache
      // hygiene), which collapses the inspectable plan to an RDD scan
      val (pairs, release) = Dedup.nearDupsAgainstIndexLazy(
        batch, "text", "doc_id", "mh_guard", minEstJaccard = 0.0)
      val s = (pairs.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode),
        pairs.queryExecution.executedPlan)
      release()
      s
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
    }
    var sawBandExchange = false
    for (b <- p.split("\\n\\s*\\(\\d+\\) ") if b.startsWith("Exchange")) {
      // text never rides ANY exchange; signatures may ride the id-keyed
      // (unskewed) verify join-back, but never a bucket-keyed exchange
      assert(!b.contains("text"), s"an exchange carries text:\n$b")
      if (b.contains("bucket")) {
        sawBandExchange = true
        assert(!b.contains("sig#") && !b.contains("__bsig"),
          s"a band-keyed exchange carries signatures:\n$b")
      }
    }
    assert(sawBandExchange, s"expected a (band, bucket)-keyed exchange in:\n$p")
    // the composite-bucketed co-location claim: both the band index and
    // the id-bucketed signature sibling are read in place
    assertIndexSideUnshuffled(planObj, "mh_guard")
  }

  test("d01 exact dedup shuffles the content hash, never the text") {
    val p = executedPlan("d01_exact_dedup")
    assert(!p.toLowerCase.contains("exchange hashpartitioning(text"),
      s"raw text used as a shuffle key:\n$p")
  }

  test("t13 LM scoring collapses doc grams map-side before the model joins") {
    // the rareTokenStats discipline: raw gram OCCURRENCES must partially
    // aggregate into (doc_id, w1, w2, k) rows before anything shuffles
    // toward the gram-keyed model join — otherwise a boilerplate bigram
    // ships one row per occurrence through its shuffle partition
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val planObj = SparkEntry.queries("t13_lm_perplexity")(spark, sf)
        .queryExecution.executedPlan
      import org.apache.spark.sql.execution.aggregate.HashAggregateExec
      // the gram fields come out as internal _groupingexpression aliases,
      // so match on shape: a 3-key partial count keyed by doc_id + 2 more
      val partialDocGram = planObj.collect {
        case h: HashAggregateExec
          if h.groupingExpressions.size == 3 &&
            h.aggregateExpressions.exists(a => a.mode ==
              org.apache.spark.sql.catalyst.expressions.aggregate.Partial &&
              a.aggregateFunction.isInstanceOf[
                org.apache.spark.sql.catalyst.expressions.aggregate.Count]) &&
            h.groupingExpressions.exists(_.name == "doc_id") => h
      }
      assert(partialDocGram.nonEmpty,
        s"no map-side (doc_id, w1, w2) collapse before the model join:\n$planObj")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("t15 source quota runs the salted two-phase windows") {
    // phase 1 must partition by (source, salt-lane) — a single-phase
    // per-source window funnels a hot domain through one task
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val planObj = SparkEntry.queries("t15_source_quota")(spark, sf)
        .queryExecution.executedPlan
      val windows = planObj.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w.partitionSpec.size
      }
      assert(windows.sorted == Seq(1, 2),
        s"expected a salted (2-key) then per-source (1-key) window, got $windows:\n$planObj")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("band-bucket family: no unbounded window over the bucket key") {
    // the last skewable-window family, de-windowed: minhashCandidates
    // derives bucket sizes by partial-agg join-back and chains
    // mega-buckets on a range-partitioned PARTITION-ID window (task size
    // = range partition, never a bucket's membership); the
    // hammingBandRows / bandRowsCapped min-id caps are the salted
    // two-phase top-N. Any bare Window.partitionBy(band, bucket) here is
    // a regression to the one-task mega-bucket sort.
    import org.apache.spark.sql.execution.window.WindowExec
    import spark.implicits._
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // minhashCandidates is EAGER (checkpointed pair list), so its
      // internal plans are captured through a listener during the call —
      // a mega bucket (20 identical docs over cap 5) forces the chain path
      val plans = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.spark.sql.execution.SparkPlan]
      val l = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            d: Long): Unit = plans.synchronized { plans += qe.executedPlan }
        override def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      }
      spark.listenerManager.register(l)
      val cwins =
        try {
          val docs = ((1L to 40L).map(i => (i, s"a$i b$i c$i d$i e$i")) ++
            (41L to 60L).map(i => (i, "the same boilerplate page text")))
            .toDF("doc_id", "text")
          graft.dedup.Dedup.minhashCandidates(docs, "text", "doc_id",
            maxBucket = 5)
          org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
          plans.synchronized {
            plans.flatMap(_.collect { case w: WindowExec =>
              w.partitionSpec.map(_.toString) }).toSeq
          }
        } finally spark.listenerManager.unregister(l)
      assert(cwins.nonEmpty && cwins.forall(ps =>
        ps.isEmpty || (ps.size == 1 && ps.head.contains("__pid"))),
        s"candidates plan windows over $cwins")
      // the caps: only the salted two-phase pair (salt-lane window with
      // one extra key below the bounded per-bucket rank)
      val sk = (1L to 30L).map(i => (i, i * 1024L)).toDF("id", "h")
      val hwins = graft.dedup.Dedup.hammingBandRows(sk, Nil, 3, 10)
        .queryExecution.executedPlan
        .collect { case w: WindowExec => w.partitionSpec.size }
      assert(hwins.sorted == Seq(2, 3),
        s"expected the salted (3-key) then per-bucket (2-key) pair, got $hwins")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("d05 embedding NN aggregates without a window sort") {
    val p = executedPlan("d05_embed_nn")
    assert(!p.contains("Window"), s"argmax regressed to a window sort:\n$p")
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"),
      s"no partial-aggregatable argmax:\n$p")
  }

  test("observability registry reports ride the bucketing: no hash exchange anywhere") {
    // the t43/t44 scale claim: the report's merge group-by (and t44's
    // per-group window) are satisfied by the registry's bucketed layout,
    // so the ONLY exchanges in a report plan are the 1-row totals
    // (SinglePartition) and the final orderBy (range) — a HashPartitioning
    // exchange would mean the ever-growing registry is re-shuffled on
    // every report. Pinned with AQE off (the r13 precedent: at test scale
    // AQE hides the static shape that matters at 100 TB).
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import graft.operators.{HeavyHitters, Histograms}
    import spark.implicits._
    graft.sources.Warehouse.dropTableAndLocation(spark, "freq_guard")
    HeavyHitters.createFreqRegistry(spark, "freq_guard", buckets = 4)
    HeavyHitters.appendRunCounts(
      (Seq.fill(30)("hot") ++ (0 until 60).map(i => s"u$i")).toDF("key"),
      "key", "freq_guard", k = 9)
    graft.sources.Warehouse.dropTableAndLocation(spark, "freq_guard_g")
    HeavyHitters.createFreqRegistryByGroup(spark, "freq_guard_g", buckets = 4)
    HeavyHitters.appendRunCountsByGroup(
      (Seq.fill(20)(("a", "hot")) ++ (0 until 40).map(i => ("a", s"u$i")))
        .toDF("g", "key"),
      "g", "key", "freq_guard_g", k = 9)
    graft.sources.Warehouse.dropTableAndLocation(spark, "hist_guard")
    Histograms.createHistRegistry(spark, "hist_guard", buckets = 4)
    Histograms.appendHistogram(
      (1 to 500).map(i => ("s" + i % 3, i.toLong)).toDF("g", "v"),
      "g", "v", "hist_guard")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      def check(df: org.apache.spark.sql.DataFrame, frag: String): Unit = {
        val plan = df.queryExecution.executedPlan
        val scans = plan.collect {
          case f: FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.toString.contains(frag))
          => f
        }
        // the MERGE path's scan must be bucketed; branches that never
        // read the bucket column (t43's 1-row totals reads only cnt/kb)
        // legitimately report "bucket column(s) not read"
        assert(scans.nonEmpty && scans.exists(_.bucketedScan),
          s"$frag merge scan missing or unbucketed:\n$plan")
        val hashEx = plan.collect {
          case s: ShuffleExchangeExec
            if s.outputPartitioning.isInstanceOf[HashPartitioning] => s
        }
        assert(hashEx.isEmpty,
          s"$frag report hash-shuffles (merge not riding the bucketing):\n$plan")
      }
      check(HeavyHitters.heavyHittersOverRuns(spark, "freq_guard", 100000L),
        "freq_guard")
      check(HeavyHitters.heavyHittersOverRunsByGroup(spark, "freq_guard_g",
        100000L), "freq_guard_g")
      check(Histograms.histogramOverRuns(spark, "hist_guard"), "hist_guard")
      check(Histograms.quantilesOverRuns(spark, "hist_guard",
        Seq(500000L, 900000L)), "hist_guard")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("sketch registry probes: merge rides the bucketing, probe side " +
    "never shuffled") {
    // the t47/d27 scale claim: a sketch report's only exchanges are
    // broadcasts (the merged skeleton ships to the probes; depth/kProbes
    // single-column joins) — NO HashPartitioning exchange anywhere means
    // both that the registry merge rode its bucketed layout AND that the
    // unbounded probe side was never repartitioned. Pinned with AQE off.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import graft.operators.{BloomReg, CountMin}
    import spark.implicits._
    graft.sources.Warehouse.dropTableAndLocation(spark, "cms_guard")
    CountMin.createCmsRegistry(spark, "cms_guard", buckets = 4)
    CountMin.appendCms(
      (Seq.fill(30)(("a", "hot")) ++ (0 until 60).map(i => ("a", s"u$i")))
        .toDF("g", "k"), "g", "k", "cms_guard")
    graft.sources.Warehouse.dropTableAndLocation(spark, "bloom_guard")
    BloomReg.createBloomRegistry(spark, "bloom_guard", buckets = 4)
    BloomReg.appendBloom((0 until 60).map(i => ("a", s"u$i")).toDF("g", "k"),
      "g", "k", "bloom_guard")
    val probes = (0 until 40).map(i => ("a", s"u$i")).toDF("g", "k")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      def check(df: org.apache.spark.sql.DataFrame, frag: String): Unit = {
        val plan = df.queryExecution.executedPlan
        val scans = plan.collect {
          case f: FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.toString.contains(frag))
          => f
        }
        assert(scans.nonEmpty && scans.exists(_.bucketedScan),
          s"$frag merge scan missing or unbucketed:\n$plan")
        val hashEx = plan.collect {
          case s: ShuffleExchangeExec
            if s.outputPartitioning.isInstanceOf[HashPartitioning] => s
        }
        assert(hashEx.isEmpty,
          s"$frag probe plan hash-shuffles:\n$plan")
      }
      check(CountMin.cmsEstimates(probes, "g", "k", "cms_guard"), "cms_guard")
      check(BloomReg.mightContain(probes, "g", "k", "bloom_guard"),
        "bloom_guard")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("t52 stratified sample plans a map-side WindowGroupLimit") {
    // the L100 scale claim: row_number under a rank<=n filter must plan
    // Spark's WindowGroupLimit in partial mode BELOW the exchange, so
    // each map task ships only its local top-n per group — without it a
    // hot group's every row crosses the wire just to be discarded.
    import org.apache.spark.sql.execution.window.WindowGroupLimitExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = SparkEntry.queries("t52_stratified_sample")(spark, sf)
        .queryExecution.executedPlan
      val limits = plan.collect { case w: WindowGroupLimitExec => w }
      assert(limits.size == 2, s"expected partial+final WindowGroupLimit:\n$plan")
      // the partial one sits below any shuffle: some limit's subtree is
      // exchange-free down to the scan
      val mapSide = limits.exists(w =>
        w.collect { case s: ShuffleExchangeExec => s }.isEmpty)
      assert(mapSide, s"no map-side (pre-exchange) WindowGroupLimit:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q22 grouping sets: one Expand, one hash-agg shuffle regardless of " +
    "set count") {
    // the A12b scale claim: Catalyst expands the grouping-set lattice
    // into ONE Expand feeding a single partial→final hash aggregate —
    // adding sets multiplies Expand's row fan-out, never the shuffle
    // count. The only other exchange is the final ORDER BY's range
    // partitioning. Pinned with AQE off.
    import org.apache.spark.sql.execution.ExpandExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = SparkEntry.queries("q22_grouping_sets")(spark, sf)
        .queryExecution.executedPlan
      assert(plan.collect { case e: ExpandExec => e }.size == 1,
        s"expected exactly one Expand:\n$plan")
      val hashEx = plan.collect {
        case s: ShuffleExchangeExec
          if s.outputPartitioning.isInstanceOf[HashPartitioning] => s
      }
      assert(hashEx.size == 1,
        s"expected one hash exchange for the lattice, got ${hashEx.size}:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("c10 version diff: no exchange ever carries document content") {
    // the L57b scale claim: content is fingerprinted ROW-LOCALLY at the
    // snapshot scans and only (id, fp) crosses the wire — every shuffle
    // exchange in the diff plan (join sides + final sort) must be free
    // of the text/lang/source columns. Pinned with AQE off.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = SparkEntry.queries("c10_version_diff")(spark, sf)
        .queryExecution.executedPlan
      val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
      assert(shuffles.nonEmpty, s"expected join/sort exchanges:\n$plan")
      val contentCols = Set("text", "lang", "source")
      for (s <- shuffles; a <- s.output)
        assert(!contentCols.contains(a.name),
          s"exchange ships content column ${a.name}:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("funnel scans the event table once: the step chain reads the " +
    "materialized step frame, never parquet") {
    // the round-16 single-scan claim: EventOps.funnel pre-filters
    // step-typed events in ONE pass and materializes it; each of the N
    // step aggregates then reads that frame. If a refactor dropped the
    // cut, N parquet scans of the event table would reappear here — at
    // 100 TB a 6-step funnel would pay 6 corpus scans.
    // pinned with AQE off: AdaptiveSparkPlan hides its inner plan from
    // collect, which would make the zero-scan assertion pass vacuously
    import org.apache.spark.sql.execution.FileSourceScanExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for (q <- Seq("e08_funnel", "e12_funnel6")) {
        val plan = SparkEntry.queries(q)(spark, sf)
          .queryExecution.executedPlan
        val parquetScans = plan.collect { case f: FileSourceScanExec => f }
        assert(parquetScans.isEmpty,
          s"$q: step chain rescans parquet (${parquetScans.size} scans):\n$plan")
        // and it does read SOMETHING — the checkpointed step frame
        assert(plan.toString.contains("Scan ExistingRDD"),
          s"$q: expected the materialized step frame in the plan:\n$plan")
      }
      // Materialize.Off is the documented lazy escape hatch — there the N
      // scans ARE the plan (one per step frame + the first-step aggregate)
      val lazyPlan = graft.operators.EventOps.funnel(
          Tables(spark, sf, "events"), "user_id", "event_type", "ts",
          Seq("view", "click", "purchase"), 86400L,
          materialize = graft.pipeline.Materialize.Off)
        .queryExecution.executedPlan
      val lazyScans = lazyPlan.collect { case f: FileSourceScanExec => f }
      assert(lazyScans.size >= 3,
        s"expected >=3 parquet scans under Off:\n$lazyPlan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("batched phrase search pays ONE corpus pass: every downstream " +
    "step reads the shared persisted postings, and anchors/slots ride " +
    "broadcasts") {
    // the t31/s04 batched-serving discipline applied to phrases: if a
    // refactor dropped the persist, each phrase's verify join would
    // rescan documents — at 100 TB, |phrases|+1 corpus scans. t59 is
    // the same batch served from the phrase index.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try for (q <- Seq("t57_phrase_batch", "t59_phrase_indexed_batch")) {
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan
      val parquetScans = plan.collect { case f: FileSourceScanExec => f }
      assert(parquetScans.isEmpty,
        s"$q: downstream steps rescan parquet (${parquetScans.size}):\n$plan")
      // the shared postings surface as the materialized frame (the
      // persist cut its lineage — same signature as the funnel's)
      assert(plan.toString.contains("Scan ExistingRDD"),
        s"$q: expected the shared persisted postings in the plan:\n$plan")
      assert(plan.toString.contains("BroadcastHashJoin"),
        s"$q: anchors/slots should broadcast, not shuffle:\n$plan")
      // the postings persist keeps its doc-id hash layout, so the slot
      // verify join and the candidate aggregation add no postings
      // exchange of their own; a lost layout brings theirs back
      val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
      assert(shuffles.size == 5,
        s"$q: expected 5 exchanges, got ${shuffles.size}:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("kept-chain debounce is one exchange + one within-partition sort: " +
    "the fold never shuffles rows twice and never widens beyond the key " +
    "partitioning") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = SparkEntry.queries("e20_debounce_chain")(spark, sf)
        .queryExecution.executedPlan
      val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
      // the key repartition + the final orderBy's range exchange; the
      // fold itself adds NO exchange of its own
      assert(shuffles.size <= 2,
        s"e20: expected <=2 exchanges (key hash + output range):\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
