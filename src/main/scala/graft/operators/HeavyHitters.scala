package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Exact frequent-items ("heavy hitters") above a frequency fraction,
  * found WITHOUT a full-cardinality group-by.
  *
  * The naive plan — `groupBy(key).count.filter(cnt > frac*n)` — is exact
  * but its hash aggregate holds one state per DISTINCT key: over a
  * 100 TB token stream that is billions of states, spilling every
  * executor even though the ANSWER is a handful of rows. This operator
  * is exact at FIXED executor memory:
  *
  *  1. **Misra–Gries pass** (Misra & Gries 1982): one `mapPartitions`
  *     sweep with k counters per task — no shuffle, no spill, no
  *     per-distinct-key state. The MG undercount per partition is
  *     ≤ n_p/(k+1); summed over partitions the total undercount is
  *     ≤ Σn_p/(k+1) = n/(k+1), so any key with true count > n/(k+1)
  *     retains a positive counter in at least one partition and appears
  *     in the candidate union. Each task emits ≤ k+1 rows.
  *  2. **Exact recount of candidates only**: rescan, keep rows whose key
  *     is in the broadcast candidate set, `groupBy(key).count`. The
  *     aggregate now has ≤ |candidates| states — bounded by the TASK
  *     COUNT times k, never by data cardinality — and map-side partial
  *     agg keeps the shuffle at ≤ tasks·|candidates| skinny rows.
  *  3. Filter `cnt · 10⁶ > fracPpm · n` (integer arithmetic end to end,
  *     no float threshold drift). Completeness requires
  *     frac > 1/(k+1), i.e. k ≥ ⌈10⁶/fracPpm⌉, which is enforced.
  *
  * Result = EXACTLY the keys with count > frac·n, with exact counts —
  * the same rows as the naive plan at any partitioning (the MG
  * candidate SET varies with partitioning, but every true heavy hitter
  * is always in it and the recount+filter discard the rest), which is
  * what the t40 oracle gates. Two scans, one bounded shuffle, NO
  * driver collect: the summary union (≤ tasks·(k+1) rows — which at
  * fracPpm=1 on a 10⁴-task corpus would be 10¹⁰ rows, too big to ever
  * collect) stays in-plan as a lineage-cut persisted frame; n rides a
  * broadcast 1-row aggregate and candidates a broadcast join frame.
  * Null keys are not counted and never returned.
  */
object HeavyHitters {

  /** Per-partition Misra–Gries summary: at most k (key, lowerBound)
    * survivors. Decrement-all is O(k) but charged against k prior
    * increments — O(1) amortized per item.
    */
  private[graft] def misraGries(it: Iterator[String], k: Int): Iterator[(String, Long)] = {
    val counters = new java.util.HashMap[String, Long](k * 2)
    while (it.hasNext) {
      val key = it.next()
      if (key != null) {
        val c = counters.get(key) // 0L when absent — 0-count keys never survive below
        if (c != 0L) counters.put(key, c + 1)
        else if (counters.size < k) counters.put(key, 1L)
        else {
          val e = counters.entrySet().iterator()
          while (e.hasNext) {
            val kv = e.next()
            if (kv.getValue == 1L) e.remove() else kv.setValue(kv.getValue - 1)
          }
        }
      }
    }
    import scala.jdk.CollectionConverters._
    counters.entrySet().asScala.iterator.map(kv => (kv.getKey, kv.getValue.toLong))
  }

  /** Exact keys with count > fracPpm·n/10⁶ over `keyCol` (cast to
    * string), with their exact counts. `fracPpm` is the threshold in
    * parts-per-million (2000 = 0.2%). `counters` overrides the per-task
    * MG budget; it must satisfy the completeness bound
    * k ≥ ⌈10⁶/fracPpm⌉ (the default is exactly that bound).
    */
  def heavyHitters(df: DataFrame, keyCol: String, fracPpm: Long,
                   counters: Int = 0): DataFrame =
    heavyHittersReleasable(df, keyCol, fracPpm, counters)._1

  /** [[heavyHitters]] plus a release thunk for the internal persisted MG
    * summary — the variant PER-BATCH callers in a long-lived driver (the
    * streaming twin) must use: call the thunk once the result is
    * materialized, or MEMORY_AND_DISK blocks accumulate between GCs.
    * Releasing before evaluation is safe (the summary recomputes
    * deterministically), just slower.
    */
  def heavyHittersReleasable(df: DataFrame, keyCol: String, fracPpm: Long,
                             counters: Int = 0): (DataFrame, () => Unit) = {
    require(fracPpm >= 1 && fracPpm < 1000000L,
      s"fracPpm out of [1, 1e6): $fracPpm")
    val kMin = ((1000000L + fracPpm - 1) / fracPpm).toInt // ceil(1e6/fracPpm)
    val k = if (counters <= 0) kMin else counters
    require(k >= kMin,
      s"counters=$k breaks the completeness bound: need >= ceil(1e6/fracPpm)=$kMin")
    val spark = df.sparkSession
    import spark.implicits._

    val keys: Dataset[String] = df.select(col(keyCol).cast("string")).as[String]
    // one scan: per-partition MG summaries + a per-partition row total
    // (the total row carries a negative tag; real summaries are ≥ 1).
    // Persisted lineage-cut because three plans consume it.
    val persisted =
      org.apache.spark.sql.graftbridge.Bridge.persistedCopy(
        keys.mapPartitions { it =>
          var n = 0L
          val counted = it.map { s => if (s != null) n += 1; s }
          val mg = misraGries(counted, k).toArray // drains `counted`, fixing n
          mg.iterator.map { case (key, c) => (key, c) } ++
            Iterator.single((null.asInstanceOf[String], -n - 1))
        }.toDF("key", "mg_cnt"),
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val summaries = persisted.df

    val total = summaries.filter(col("mg_cnt") < 0)
      .agg(sum(-col("mg_cnt") - 1).as("__n"))
    val candidates = summaries.filter(col("mg_cnt") > 0)
      .select(col("key")).distinct()
    keys.toDF("key").filter(col("key").isNotNull)
      .join(broadcast(candidates), Seq("key"), "left_semi")
      .groupBy("key").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      // DECIMAL cross-multiply: cnt·10⁶ overflows a long once n nears
      // Long.MaxValue/10⁶ (~9e12 rows — inside the operator's own target),
      // and under ANSI mode that kills the job AFTER both scans.
      // decimal(21,0)·decimal(7,0) → decimal(29,0), exact and overflow-free.
      .filter(col("cnt").cast("decimal(21,0)") * lit(1000000L).cast("decimal(7,0)") >
        lit(fracPpm).cast("decimal(7,0)") * col("__n").cast("decimal(21,0)"))
      .select(col("key"), col("cnt")) -> (() => persisted.release())
  }

  /** PER-GROUP exact heavy hitters: keys with count > fracPpm·n_g/10⁶
    * WITHIN each group g ("the hot tokens of each language", "each
    * domain's boilerplate lines") — which the global pass structurally
    * can't answer: a key dominating a small group is invisible against
    * the corpus-wide total. One MG state per group per task (memory =
    * local groups × k, guarded by the loud `maxGroups` require — a
    * corpus-shaped "group" column is a modeling error, not an OOM);
    * per-group totals and candidates stay IN-PLAN (no driver collect at
    * all here — the grouped summary union can be larger than the
    * global one's centroid-contract bound), the recount semi-joins the
    * candidate (group, key) pairs, and each group's strict integer cut
    * joins its own total. Same per-group completeness bound:
    * k ≥ ⌈10⁶/fracPpm⌉ ⇒ every key above frac·n_g survives some
    * partition's summary for g. Null groups are groups; null keys are
    * not counted. Output: (group, key, cnt).
    */
  // ----------------------------------------------------------------------
  // Cross-run FREQUENCY registry
  // ----------------------------------------------------------------------
  //
  // The in-plan passes above answer "what is heavy in THIS frame". The
  // registry answers "what has been heavy across EVERY run ever appended"
  // (top domains over months of crawls, recurring boilerplate tokens)
  // WITHOUT rescanning any previous run — the frequency member of the
  // cross-run family (exact d12, MinHash d13, hamming d15, line d22,
  // chunk d26, cardinality t42).
  //
  // Each append stores the run's keys whose EXACT in-run count clears the
  // strict integer cutoff cnt·(k+1) > n_run (found at fixed memory by the
  // same MG-candidates + exact-recount discipline as [[heavyHitters]]),
  // plus one total row (n_run, k). Dropping a key in a run forfeits at
  // most floor(n_run/(k+1)) of its count, so over all runs the stored sum
  // S(key) satisfies T − Σ_r floor(n_r/(k_r+1)) ≤ S ≤ T for the true
  // all-runs count T — the SAME ε = 1/(k+1) guarantee a merged
  // Misra–Gries summary gives, but with a PARTITIONING-INDEPENDENT
  // (hence engine-replayable) stored set: the exact counts make the
  // appended rows a pure function of the run's data, which is what lets
  // the driver oracle re-derive the whole registry in SQL. The report is
  // then completeness-honest: it returns every key whose count COULD
  // exceed the asked threshold ((S + B)·10⁶ > fracPpm·N where
  // B = Σ floor(n_r/(k_r+1)) is the exact worst-case undercount computed
  // from the stored total rows — no false negatives when k was sized for
  // the threshold), flagging the subset whose stored lower bound ALREADY
  // clears it (S·10⁶ > fracPpm·N — no false positives among flagged
  // rows). Registry bytes per run: ≤ k+1 rows regardless of run size;
  // bucketed on key so appends and the report merge co-locate and the
  // report's group-by never shuffles. Append-only like every cross-run
  // table — runs with different k mix soundly (the bound B sums each
  // run's own forfeit).

  /** Create the empty frequency registry: (key STRING, cnt BIGINT,
    * kb INT) — kb non-null only on a run's total row (where key is null
    * and cnt carries n_run) — bucketed on key.
    */
  def createFreqRegistry(spark: org.apache.spark.sql.SparkSession,
                         table: String, buckets: Int = 8): Unit = {
    import spark.implicits._
    graft.sources.Warehouse.writeBucketed(
      Seq.empty[(String, Long, Option[Int])].toDF("key", "cnt", "kb"),
      table, "key", buckets)
  }

  /** Count this run's keys, keep those with exact count·(k+1) > n_run
    * (fixed-memory two-pass — candidates from a per-partition MG sweep
    * with k counters, whose completeness bound guarantees every key above
    * n_run/(k+1) survives some partition's summary; exact recount of the
    * bounded candidate set only), and append them plus the run's total
    * row. Returns the number of key rows appended (total row excluded).
    * `k` must cover the report thresholds this registry will serve:
    * completeness at fracPpm needs k ≥ ⌈10⁶/fracPpm⌉ · (runs-appended
    * margin is automatic — the report adds back the exact forfeit bound).
    */
  def appendRunCounts(df: DataFrame, keyCol: String, table: String,
                      k: Int = 999): Long = {
    require(k >= 1, s"k must be >= 1: $k")
    val spark = df.sparkSession
    import spark.implicits._

    val keys: Dataset[String] = df.select(col(keyCol).cast("string")).as[String]
    val persisted =
      org.apache.spark.sql.graftbridge.Bridge.persistedCopy(
        keys.mapPartitions { it =>
          var n = 0L
          val counted = it.map { s => if (s != null) n += 1; s }
          val mg = misraGries(counted, k).toArray
          mg.iterator ++ Iterator.single((null.asInstanceOf[String], -n - 1))
        }.toDF("key", "mg_cnt"),
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val summaries = persisted.df
    val total = summaries.filter(col("mg_cnt") < 0)
      .agg(sum(-col("mg_cnt") - 1).as("__n"))
    val candidates = summaries.filter(col("mg_cnt") > 0)
      .select(col("key")).distinct()
    // strict integer cutoff in DECIMAL (cnt·(k+1) overflows long only
    // past ~9e15 rows, but the guard costs nothing)
    val kept = keys.toDF("key").filter(col("key").isNotNull)
      .join(broadcast(candidates), Seq("key"), "left_semi")
      .groupBy("key").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt").cast("decimal(21,0)") *
        lit(k + 1L).cast("decimal(10,0)") > col("__n").cast("decimal(21,0)"))
      .select(col("key"), col("cnt"), lit(null).cast("int").as("kb"))
    val totalRow = total.select(lit(null).cast("string").as("key"),
      col("__n").cast("long").as("cnt"), lit(k).cast("int").as("kb"))
    val delta = graft.sources.Warehouse.appendBucketedWithDelta(
      kept.unionByName(totalRow), table, "key")
    persisted.release()
    if (delta.isEmpty) 0L
    else spark.read.parquet(delta: _*).filter(col("key").isNotNull).count()
  }

  /** Keys whose ALL-RUNS count could exceed fracPpm·N/10⁶ over every run
    * ever appended: (key, cnt_min, guaranteed) where cnt_min is the
    * stored exact lower bound ΣS, `guaranteed` marks rows already above
    * the threshold on the lower bound alone, and the row set admits
    * every key within the registry's exact forfeit bound
    * B = Σ floor(n_r/(k_r+1)) of the cut — so no true heavy hitter is
    * missing whenever each run's k met ⌈10⁶/fracPpm⌉. One bucketed scan;
    * the merge group-by rides the bucketing (no shuffle); totals ride a
    * broadcast 1-row aggregate. Pure integer arithmetic end to end —
    * any SQL engine replays the identical rows from the same registry.
    */
  def heavyHittersOverRuns(spark: org.apache.spark.sql.SparkSession,
                           table: String, fracPpm: Long): DataFrame = {
    require(fracPpm >= 1 && fracPpm < 1000000L,
      s"fracPpm out of [1, 1e6): $fracPpm")
    val rows = spark.table(table)
    val tot = rows.filter(col("kb").isNotNull)
      .agg(sum(col("cnt")).cast("decimal(21,0)").as("__n"),
        // integral DIV, not floor-of-double — a float quotient can misround
        // exactly at the bound the report exists to honor
        sum(expr("cnt DIV (CAST(kb AS BIGINT) + 1)"))
          .cast("decimal(21,0)").as("__b"))
    val ppm = lit(1000000L).cast("decimal(7,0)")
    val frac = lit(fracPpm).cast("decimal(7,0)")
    rows.filter(col("kb").isNull)
      .groupBy("key").agg(sum(col("cnt")).as("cnt_min"))
      .crossJoin(broadcast(tot))
      .filter((col("cnt_min").cast("decimal(21,0)") + col("__b")) * ppm >
        frac * col("__n"))
      .select(col("key"), col("cnt_min"),
        (col("cnt_min").cast("decimal(21,0)") * ppm > frac * col("__n"))
          .as("guaranteed"))
  }

  /** Create the empty PER-GROUP frequency registry: (g STRING, key STRING,
    * cnt BIGINT, kb INT) — kb non-null only on a run's per-group total row
    * (key null, cnt = n_run,g) — bucketed on g so the report's merge and
    * totals both ride the bucketing.
    */
  def createFreqRegistryByGroup(spark: org.apache.spark.sql.SparkSession,
                                table: String, buckets: Int = 8): Unit = {
    import spark.implicits._
    graft.sources.Warehouse.writeBucketed(
      Seq.empty[(String, String, Long, Option[Int])]
        .toDF("g", "key", "cnt", "kb"),
      table, "g", buckets)
  }

  /** The grouped [[appendRunCounts]]: per group, keys whose EXACT in-run
    * count clears cnt·(k+1) > n_run,g (grouped MG candidates at one state
    * per local group per task — the loud `maxGroups` guard — then an exact
    * recount of the candidate (group, key) pairs only), appended with one
    * total row PER GROUP. Same per-group guarantee as the global registry:
    * stored sum S(g, key) ≥ T − Σ_r ⌊n_r,g/(k_r+1)⌋, partitioning-
    * independent because the counts are exact. A key dominating a SMALL
    * group registers here where the global registry structurally can't
    * see it. Null groups are groups; null keys are not counted. Returns
    * key rows appended.
    */
  def appendRunCountsByGroup(df: DataFrame, groupCol: String, keyCol: String,
                             table: String, k: Int = 999,
                             maxGroups: Int = 100000): Long = {
    require(k >= 1, s"k must be >= 1: $k")
    val spark = df.sparkSession
    val persisted =
      org.apache.spark.sql.graftbridge.Bridge.persistedCopy(
        groupedMgSummaries(df, groupCol, keyCol, k, maxGroups),
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val summaries = persisted.df
    val totals = summaries.filter(col("mg_cnt") < 0)
      .groupBy("g").agg(sum(-col("mg_cnt") - 1).as("__n"))
    val candidates = summaries.filter(col("mg_cnt") > 0)
      .select(col("g").as("__cg"), col("key").as("__ck")).distinct()
    val kept = df
      .select(col(groupCol).cast("string").as("g"),
        col(keyCol).cast("string").as("key"))
      .filter(col("key").isNotNull)
      .join(candidates,
        col("g") <=> col("__cg") && col("key") === col("__ck"), "left_semi")
      .groupBy("g", "key").agg(count(lit(1)).as("cnt"))
      .join(broadcast(totals.withColumnRenamed("g", "__tg")),
        col("g") <=> col("__tg"))
      .filter(col("cnt").cast("decimal(21,0)") *
        lit(k + 1L).cast("decimal(10,0)") > col("__n").cast("decimal(21,0)"))
      .select(col("g"), col("key"), col("cnt"), lit(null).cast("int").as("kb"))
    val totalRows = totals.select(col("g"),
      lit(null).cast("string").as("key"), col("__n").cast("long").as("cnt"),
      lit(k).cast("int").as("kb"))
    val delta = graft.sources.Warehouse.appendBucketedWithDelta(
      kept.unionByName(totalRows), table, "g")
    persisted.release()
    if (delta.isEmpty) 0L
    else spark.read.parquet(delta: _*).filter(col("key").isNotNull).count()
  }

  /** The grouped [[heavyHittersOverRuns]]: per group, every key whose
    * ALL-RUNS in-group count could exceed fracPpm·N_g/10⁶ — admission adds
    * back the group's OWN exact forfeit bound B_g = Σ_r ⌊n_r,g/(k_r+1)⌋,
    * `guaranteed` flags rows above the threshold on the stored lower bound
    * alone. One bucketed scan: the merge AND the per-group totals both
    * ride the g-bucketing; the totals join is an explicit broadcast
    * (groups bounded — that is what makes a per-group registry sane).
    * Output (group, key, cnt_min, guaranteed).
    */
  def heavyHittersOverRunsByGroup(spark: org.apache.spark.sql.SparkSession,
                                  table: String, fracPpm: Long): DataFrame = {
    require(fracPpm >= 1 && fracPpm < 1000000L,
      s"fracPpm out of [1, 1e6): $fracPpm")
    val rows = spark.table(table)
    val tot = rows.filter(col("kb").isNotNull)
      .groupBy("g").agg(
        sum(col("cnt")).cast("decimal(21,0)").as("__n"),
        sum(expr("cnt DIV (CAST(kb AS BIGINT) + 1)"))
          .cast("decimal(21,0)").as("__b"))
      .withColumnRenamed("g", "__tg")
    val ppm = lit(1000000L).cast("decimal(7,0)")
    val frac = lit(fracPpm).cast("decimal(7,0)")
    rows.filter(col("kb").isNull)
      .groupBy("g", "key").agg(sum(col("cnt")).as("cnt_min"))
      .join(broadcast(tot), col("g") <=> col("__tg"))
      .filter((col("cnt_min").cast("decimal(21,0)") + col("__b")) * ppm >
        frac * col("__n"))
      .select(col("g").as("group"), col("key"), col("cnt_min"),
        (col("cnt_min").cast("decimal(21,0)") * ppm > frac * col("__n"))
          .as("guaranteed"))
  }

  /** Per-partition grouped Misra–Gries summaries + per-group per-partition
    * totals, one frame: (g, key, mg_cnt) with total rows tagged key=null,
    * mg_cnt = −n_p,g − 1 — the shared sweep of [[heavyHittersByGroup]] and
    * the grouped cross-run append ([[appendRunCountsByGroup]]).
    */
  private def groupedMgSummaries(df: DataFrame, groupCol: String,
                                 keyCol: String, k: Int,
                                 maxGroups: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val pairs = df.select(col(groupCol).cast("string"), col(keyCol).cast("string"))
      .as[(String, String)]
    pairs.mapPartitions { it =>
      val states = new java.util.HashMap[String, java.util.HashMap[String, Long]]()
      val totals = new java.util.HashMap[String, Long]()
      while (it.hasNext) {
        val (g, key) = it.next()
        if (key != null) {
          totals.merge(g, 1L, (a, b) => a + b)
          var counters0 = states.get(g)
          if (counters0 == null) {
            require(states.size < maxGroups,
              s"grouped heavy hitters: more than $maxGroups groups in one " +
                "task — a corpus-shaped group column; raise maxGroups only " +
                "if group cardinality is genuinely bounded")
            counters0 = new java.util.HashMap[String, Long](k * 2)
            states.put(g, counters0)
          }
          val c = counters0.get(key)
          if (c != 0L) counters0.put(key, c + 1)
          else if (counters0.size < k) counters0.put(key, 1L)
          else {
            val e = counters0.entrySet().iterator()
            while (e.hasNext) {
              val kv = e.next()
              if (kv.getValue == 1L) e.remove() else kv.setValue(kv.getValue - 1)
            }
          }
        }
      }
      import scala.jdk.CollectionConverters._
      states.entrySet().asScala.iterator.flatMap { ge =>
        ge.getValue.entrySet().asScala.iterator
          .map(kv => (ge.getKey, kv.getKey, kv.getValue.toLong))
      } ++ totals.entrySet().asScala.iterator
        .map(te => (te.getKey, null.asInstanceOf[String], -te.getValue - 1))
    }.toDF("g", "key", "mg_cnt")
  }

  def heavyHittersByGroup(df: DataFrame, groupCol: String, keyCol: String,
                          fracPpm: Long, counters: Int = 0,
                          maxGroups: Int = 100000): DataFrame =
    heavyHittersByGroupReleasable(df, groupCol, keyCol, fracPpm, counters,
      maxGroups)._1

  /** [[heavyHittersByGroup]] plus a release thunk for the internal
    * persisted grouped-MG summary — the variant PER-BATCH callers in a
    * long-lived driver (the streaming twin) must use, exactly like the
    * global [[heavyHittersReleasable]].
    */
  def heavyHittersByGroupReleasable(df: DataFrame, groupCol: String,
                                    keyCol: String, fracPpm: Long,
                                    counters: Int = 0,
                                    maxGroups: Int = 100000)
      : (DataFrame, () => Unit) = {
    require(fracPpm >= 1 && fracPpm < 1000000L,
      s"fracPpm out of [1, 1e6): $fracPpm")
    val kMin = ((1000000L + fracPpm - 1) / fracPpm).toInt
    val k = if (counters <= 0) kMin else counters
    require(k >= kMin,
      s"counters=$k breaks the completeness bound: need >= ceil(1e6/fracPpm)=$kMin")
    val spark = df.sparkSession
    import spark.implicits._

    val summaries = groupedMgSummaries(df, groupCol, keyCol, k, maxGroups)
    // three consumers (totals, candidates, and the returned plan) — one
    // lineage-cut persisted copy keeps the MG pass to a single execution
    val persisted =
      org.apache.spark.sql.graftbridge.Bridge.persistedCopy(
        summaries, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val summarized = persisted.df

    val totals = summarized.filter(col("mg_cnt") < 0)
      .groupBy("g").agg(sum(-col("mg_cnt") - 1).as("__n"))
      .withColumnRenamed("g", "__tg")
    val candidates = summarized.filter(col("mg_cnt") > 0)
      .select(col("g").as("__cg"), col("key").as("__ck")).distinct()
    // null-safe on the group side: a null group is a group (rollup's
    // convention), and equi-join keys would silently drop it
    df.select(col(groupCol).cast("string").as("g"),
        col(keyCol).cast("string").as("key"))
      .filter(col("key").isNotNull)
      .join(candidates,
        col("g") <=> col("__cg") && col("key") === col("__ck"), "left_semi")
      .groupBy("g", "key").agg(count(lit(1)).as("cnt"))
      .join(totals, col("g") <=> col("__tg"))
      // same DECIMAL cross-multiply as the global pass (long overflow guard)
      .filter(col("cnt").cast("decimal(21,0)") * lit(1000000L).cast("decimal(7,0)") >
        lit(fracPpm).cast("decimal(7,0)") * col("__n").cast("decimal(21,0)"))
      .select(col("g").as(groupCol), col("key").as(keyCol), col("cnt")) ->
      (() => persisted.release())
  }
}
