package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Time-series completion and conversion-funnel operators over event
  * frames — the two event-tier reports tumbling windows and
  * sessionization can't express: a bucket with NO events must still
  * exist (gap fill), and "did this key do A then B then C, each within
  * a window of the previous step" (funnel).
  */
object EventOps {

  /** Rate ANOMALY detection — the monitoring staple over event streams:
    * flag the (key, bucket) windows whose event count deviates more
    * than `k` standard deviations from the trailing-`trailing`-bucket
    * mean. The statistical test is EXACT INTEGER arithmetic — no float
    * ever enters: with n prior observed buckets, S = Σc, Sq = Σc², the
    * z-test |c − μ| > k·σ cross-multiplies to
    *
    *    (n·c − S)² > k² · (n·Sq − S²)
    *
    * (both sides are products of counts — longs; μ = S/n and
    * σ² = (n·Sq − S²)/n² never materialize), so both engines agree
    * bit-for-bit with zero rounding discipline needed. A constant
    * trailing window (σ = 0) flags ANY deviation — mathematically
    * right (a departure from a constant rate is infinitely many σ).
    *
    * The trailing frame is the last `trailing` OBSERVED buckets of the
    * key (rows-based; buckets with zero events don't exist in the
    * count series — run [[gapFill]] first for calendar-true trailing
    * windows), and a row is only judged when its frame is FULL, so
    * cold-start buckets never alarm.
    *
    * Scale shape: one (key, bucket) partial-aggregated count pass, one
    * per-key window ordered by bucket — high-cardinality evenly
    * distributed keys, bounded frames, no corpus-wide anything.
    */
  def rateAnomalies(df: DataFrame, keyCol: String, tsCol: String,
                    bucketWidth: String = "5 minutes", trailing: Int = 12,
                    k: Long = 3): DataFrame = {
    require(trailing >= 2, s"trailing=$trailing")
    require(k >= 1, s"k=$k")
    val counts = df
      .groupBy(col(keyCol), window(col(tsCol), bucketWidth).as("__w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol), col("__w.start").as("bucket"), col("n_events"))
    val frame = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
      .rowsBetween(-trailing, -1)
    counts
      .withColumn("__n", count(lit(1)).over(frame))
      .withColumn("__s", sum(col("n_events")).over(frame))
      .withColumn("__sq", sum(col("n_events") * col("n_events")).over(frame))
      .filter(col("__n") === trailing)
      .withColumn("__lhs",
        (col("__n") * col("n_events") - col("__s")) *
          (col("__n") * col("n_events") - col("__s")))
      .withColumn("__rhs",
        lit(k * k) * (col("__n") * col("__sq") - col("__s") * col("__s")))
      .filter(col("__lhs") > col("__rhs"))
      .select(col(keyCol), col("bucket"), col("n_events"),
        col("__s").as("trailing_sum"))
  }

  /** Gap-filling resample + forward fill: per key, one row for EVERY
    * `stepSql` bucket between the key's first and last event — empty
    * buckets carry `n_events = 0` and the last observed bucket sum
    * (`filled_sum`); `observed` flags real buckets (0/1). Missing rows
    * are what break monitoring charts, rate arithmetic, and bucket-joins
    * against other series; this materializes them.
    *
    * Scale shape: the per-key span is a skeleton aggregate; the scaffold
    * explode is row-local (span/step rows per key); the fill is ONE
    * per-key window ordered by bucket — a high-cardinality, evenly
    * distributed key, never a hot one. The first scaffold bucket is
    * observed by construction, so the fill never reads before the data.
    * Value sums ride DECIMAL(18,2) (exact, order-free) and surface as
    * DOUBLE.
    *
    * `truncUnit` must be the unit matching `stepSql` (e.g. "hour" with
    * "interval 1 hour"): truncation aligns every event to a bucket that
    * the scaffold sequence also generates, which is what makes the left
    * join exact.
    */
  def gapFill(df: DataFrame, keyCol: String, tsCol: String, valueCol: String,
              truncUnit: String = "hour",
              stepSql: String = "interval 1 hour"): DataFrame = {
    val ev = df.withColumn("bucket", date_trunc(truncUnit, col(tsCol)))
    val obs = ev.groupBy(col(keyCol), col("bucket"))
      .agg(count(lit(1)).as("n_obs"),
        sum(expr(s"CAST($valueCol AS DECIMAL(18,2))")).cast("double")
          .as("sum_obs"))
    val scaffold = ev.groupBy(keyCol)
      .agg(min("bucket").as("b0"), max("bucket").as("b1"))
      .select(col(keyCol),
        explode(expr(s"sequence(b0, b1, $stepSql)")).as("bucket"))
    val w = Window.partitionBy(keyCol).orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scaffold.join(obs, Seq(keyCol, "bucket"), "left")
      .select(col(keyCol), col("bucket"),
        coalesce(col("n_obs"), lit(0L)).as("n_events"),
        last(col("sum_obs"), ignoreNulls = true).over(w).as("filled_sum"),
        col("n_obs").isNotNull.cast("int").as("observed"))
  }

  /** Session PATH mining — "what do sessions actually look like": events
    * are cut into gap-based sessions (the e02 rule: a new session after
    * `gapSec` of inactivity), each session becomes its ordered
    * event-type path truncated to the first `maxLen` steps (the prefix
    * is the analyzable object — full paths are near-unique), and the
    * report is the top-`topK` paths by session count. The product
    * question this answers: which flows dominate, where do they diverge.
    *
    * Determinism: per-session order is (ts, event_id) — materialized by
    * sort_array over collected (ts, event_id, type) structs, so the
    * collect order never matters; top-k cuts on (count DESC, path ASC),
    * a total order.
    *
    * Scale shape: ONE per-key window (the sessionize shuffle), a
    * (key, session) aggregate whose state is ≤ maxLen+structs per
    * session... collected structs per session are bounded by the
    * session's own length — the same bound e02's count/min/max carry —
    * then a path-keyed partial-agg count and a TakeOrdered top-k. No
    * corpus-wide window anywhere.
    */
  def sessionPaths(df: DataFrame, keyCol: String, typeCol: String,
                   tsCol: String, gapSec: Long = 1800,
                   maxLen: Int = 8, topK: Int = 25,
                   tieCol: String = "event_id"): DataFrame = {
    require(gapSec > 0 && maxLen >= 1 && topK >= 1,
      s"gapSec=$gapSec maxLen=$maxLen topK=$topK")
    val byKey = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(tieCol))
    val running = byKey.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    df.withColumn("__tsec", col(tsCol).cast("double"))
      .withColumn("__gap", col("__tsec") - lag(col("__tsec"), 1).over(byKey))
      .withColumn("__new",
        when(col("__gap").isNull || col("__gap") > gapSec.toDouble, 1L)
          .otherwise(0L))
      .withColumn("__sess", sum(col("__new")).over(running))
      .groupBy(col(keyCol), col("__sess"))
      .agg(collect_list(struct(col(tsCol).as("t"), col(tieCol),
        col(typeCol).as("et"))).as("__evs"))
      .select(array_join(
        slice(transform(sort_array(col("__evs")), e => e.getField("et")),
          1, maxLen), ">").as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(topK)
  }

  /** Cohort RETENTION analysis — the funnel's companion report: keys are
    * cohorted by the period of their FIRST event, and each (cohort,
    * period-offset) cell reports how many of that cohort were active
    * again k periods later, absolute and as integral parts-per-million
    * of the cohort (exact integer division — engine-stable, no float
    * ratio in the gate). `truncUnit` is any `date_trunc` unit; offsets
    * are exact integer quotients of epoch-second deltas between
    * truncated period starts (both engines truncate weeks to ISO
    * Monday), with the period length in seconds supplied by the caller.
    * FIXED-LENGTH periods assume a DST-free session timezone (the repo
    * runs UTC, Spark's recommended cluster default): under a DST-shifting
    * zone, `date_trunc('week')` deltas are NOT always multiples of
    * 604800 s and the truncated quotient would misassign cells — weeks
    * included, not just months. Calendar-length units (month / quarter /
    * year) are deliberately NOT approximated here; they get exact
    * calendar arithmetic in [[retentionCalendar]].
    *
    * Scale shape: one distinct-collapse to (key, period) skeletons, one
    * skeleton aggregate for cohorts, a key-partitioned join, and a
    * group-by on (cohort, offset) — nothing ever carries more than one
    * row per key per active period.
    */
  def retention(df: DataFrame, keyCol: String, tsCol: String,
                truncUnit: String = "week",
                periodSeconds: Long = 7L * 24 * 3600): DataFrame = {
    require(periodSeconds > 0, s"periodSeconds=$periodSeconds")
    val active = df
      .select(col(keyCol), date_trunc(truncUnit, col(tsCol)).as("period"))
      .filter(col("period").isNotNull)
      .distinct()
    val cohorts = active.groupBy(keyCol).agg(min("period").as("cohort"))
    val sizes = cohorts.groupBy("cohort").agg(count(lit(1)).as("n_cohort"))
    active.join(cohorts, keyCol)
      .withColumn("week_offset",
        ((col("period").cast("long") - col("cohort").cast("long")) /
          periodSeconds).cast("long"))
      .groupBy(col("cohort"), col("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(sizes, "cohort")
      .withColumn("retention_ppm",
        expr("n_active * CAST(1000000 AS BIGINT) div n_cohort"))
  }

  /** [[retention]] for CALENDAR-length periods — month / quarter / year
    * cohorts, the units fixed-second division cannot express (a month is
    * 28–31 days; dividing epoch deltas by any constant misassigns
    * cells). Offsets are exact calendar-unit differences between the
    * truncated period starts: `months_between` on two month-truncated
    * timestamps is integral by construction (both sit on day 1,
    * 00:00:00), and quarter/year offsets are that integer divided by
    * 3/12 — no float boundary anywhere, engine-replayable as DuckDB's
    * `date_diff('month', cohort, period)`. Output shape mirrors
    * [[retention]] with `period_offset` counting `truncUnit`s.
    *
    * Scale shape: identical to [[retention]] — distinct-collapse to
    * (key, period) skeletons, a skeleton cohort aggregate, one
    * key-partitioned join, one (cohort, offset) group-by.
    */
  def retentionCalendar(df: DataFrame, keyCol: String, tsCol: String,
                        truncUnit: String = "month"): DataFrame = {
    val monthsPer = truncUnit.toLowerCase match {
      case "month" => 1
      case "quarter" => 3
      case "year" => 12
      case u => throw new IllegalArgumentException(
        s"retentionCalendar: unsupported unit '$u' — fixed-length units " +
          "(week/day/hour) belong to retention(periodSeconds)")
    }
    val active = df
      .select(col(keyCol), date_trunc(truncUnit, col(tsCol)).as("period"))
      .filter(col("period").isNotNull)
      .distinct()
    val cohorts = active.groupBy(keyCol).agg(min("period").as("cohort"))
    val sizes = cohorts.groupBy("cohort").agg(count(lit(1)).as("n_cohort"))
    active.join(cohorts, keyCol)
      .withColumn("period_offset",
        (months_between(col("period"), col("cohort")) / monthsPer)
          .cast("long"))
      .groupBy(col("cohort"), col("period_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(sizes, "cohort")
      .withColumn("retention_ppm",
        expr("n_active * CAST(1000000 AS BIGINT) div n_cohort"))
  }

  /** Stateless DEBOUNCE: keep an event iff the key's previous event (by
    * (ts, tie) order) is more than `cooldownSeconds` older — alert
    * de-noising, notification rate capping, sensor chatter suppression.
    * STATELESS by contract: the gap is measured against the previous
    * RAW event, not the previous KEPT one (the kept-chain variant is a
    * sequential per-key fold — order-dependent state that no SQL engine
    * replays; a pipeline wanting it runs this first and iterates).
    * One per-key window, never corpus-wide.
    */
  def debounce(df: DataFrame, keyCol: String, tsCol: String,
               cooldownSeconds: Long,
               tieCol: String = "event_id"): DataFrame = {
    require(cooldownSeconds > 0, s"cooldownSeconds=$cooldownSeconds")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    df.withColumn("__prev", lag(col(tsCol), 1).over(w))
      .filter(col("__prev").isNull ||
        col(tsCol).cast("double") - col("__prev").cast("double") >
          cooldownSeconds.toDouble)
      .drop("__prev")
  }

  /** KEPT-CHAIN debounce — the true-cooldown variant a rate limiter /
    * alert suppressor actually wants: per key in (ts, tie) order, the
    * FIRST event is kept and every later event is kept iff it is more
    * than `cooldownSeconds` after the last KEPT event (not the previous
    * raw one — [[debounce]]'s stateless contract drops a steady drizzle
    * forever; this one re-fires once per cooldown window). A sequential
    * per-key fold no window frame expresses (the reset is
    * order-dependent state with unbounded lookback), so it runs as the
    * classic secondary-sort: ONE hash repartition on the key, ONE
    * within-partition sort on (key, ts, tie), then a streaming
    * `mapPartitions` fold holding O(1) state — one (key, lastKeptMicros)
    * pair — per task. No per-key buffering, no driver state; partition
    * count rides `spark.sql.shuffle.partitions`, so a cluster scales it
    * with input like any exchange.
    *
    * Cross-engine exactness: the gap test is pure INTEGER microseconds
    * (`us − lastKeptUs > cooldownSeconds·10⁶` — strictly greater), so a
    * DuckDB per-key recursive CTE over `epoch_us` replays the fold
    * bit-for-bit with zero float arithmetic. Null timestamps are
    * rejected loudly: a fold over engine-dependent null ordering is not
    * a defined operator.
    */
  def debounceChain(df: DataFrame, keyCol: String, tsCol: String,
                    cooldownSeconds: Long,
                    tieCol: String = "event_id"): DataFrame = {
    require(cooldownSeconds > 0, s"cooldownSeconds=$cooldownSeconds")
    val schema = df.schema
    val ki = schema.fieldIndex(keyCol)
    val ti = schema.fieldIndex(tsCol)
    val cooldownUs = cooldownSeconds * 1000000L
    val sorted = df.repartition(col(keyCol))
      .sortWithinPartitions(col(keyCol), col(tsCol), col(tieCol))
    sorted.mapPartitions { it =>
      var curKey: Any = null
      var haveKey = false
      var lastKeptUs = 0L
      var haveKept = false
      it.filter { row =>
        val k = row.get(ki)
        if (!haveKey || k != curKey) {
          curKey = k; haveKey = true; haveKept = false
        }
        val ts = row.getAs[java.sql.Timestamp](ti)
        if (ts == null) throw new IllegalStateException(
          s"debounceChain: null $tsCol for key $k — the kept-chain fold " +
            "is undefined over engine-ordered nulls; filter them first")
        val us = math.floorDiv(ts.getTime, 1000L) * 1000000L +
          ts.getNanos / 1000L
        val keep = !haveKept || us - lastKeptUs > cooldownUs
        if (keep) { lastKeptUs = us; haveKept = true }
        keep
      }
    }(org.apache.spark.sql.Encoders.row(schema))
  }

  /** Exponentially TIME-DECAYED sum per key — the ranking/feature-eng
    * staple ("engagement, but recent counts more"): each event
    * contributes `value · 2^(−⌊(asOf − t)/halfLife⌋)`. Most engines
    * compute `exp(−λΔt)` per row and pray the float sum is stable; this
    * formulation is ENGINE-EXACT by construction, three facts deep:
    * (1) the decay exponent is an integer floor quotient (both engines'
    * integral division agrees on the non-negative diffs the
    * `ts <= asOf` filter guarantees), so every weight is an exact power
    * of two; (2) per-(key, bucket) sums ride DECIMAL (exact,
    * order-free), and DECIMAL(18,2)→double is exact below 2^53;
    * (3) the per-key total is a FIXED left-to-right chain of
    * `bucketSum_k · 2^−k` terms, k = 0..maxBuckets−1 — same IEEE
    * operation order on any engine, no HOF, no collect. Events older
    * than `maxBuckets` half-lives are dropped (weight < 2^−maxBuckets —
    * sub-ULP against any recent activity; the oracle truncates
    * identically, so the contract is part of the operator, not a
    * mismatch).
    *
    * Scale shape: one filter + one group-by on the key with maxBuckets
    * conditional partial aggregates — map-side combined, no window, no
    * per-key state beyond the fixed bucket vector.
    */
  def decayedSum(df: DataFrame, keyCol: String, tsCol: String,
                 valueCol: String, asOf: java.sql.Timestamp,
                 halfLifeSeconds: Long,
                 maxBuckets: Int = 64): DataFrame = {
    require(halfLifeSeconds > 0, s"halfLifeSeconds=$halfLifeSeconds")
    require(maxBuckets >= 1 && maxBuckets <= 256, s"maxBuckets=$maxBuckets")
    require(asOf.getTime % 1000 == 0,
      s"asOf must be whole-second (epoch-second bucket arithmetic): $asOf")
    val asOfSec = asOf.getTime / 1000
    val base = df
      .filter(col(tsCol) <= lit(asOf))
      .withColumn("__k",
        expr(s"($asOfSec - CAST($tsCol AS LONG)) div $halfLifeSeconds"))
      .filter(col("__k") < maxBuckets)
    val dec = expr(s"CAST($valueCol AS DECIMAL(18,2))")
    val aggs = (0 until maxBuckets).map(k =>
      sum(when(col("__k") === k, dec)).as(s"__b$k"))
    val total = (0 until maxBuckets).map(k =>
      coalesce(col(s"__b$k"), lit(0).cast("decimal(18,2)")).cast("double") *
        lit(math.pow(2, -k)))
      .reduceLeft(_ + _)
    base.groupBy(col(keyCol)).agg(aggs.head, aggs.tail: _*)
      .select(col(keyCol), total.as("decayed_sum"))
  }

  /** [[decayedSum]]'s oracle arm: the identical fixed-order fold as one
    * generated SQL expression over the same weight doubles (rendered by
    * the same `math.pow`, so the literals round-trip to the same
    * binary), for the lockstep-generation convention.
    */
  def decayedSumOracleSql(table: String, keyCol: String, tsCol: String,
                          valueCol: String, asOfLiteral: String,
                          asOfSec: Long, halfLifeSeconds: Long,
                          maxBuckets: Int = 64): String = {
    val sums = (0 until maxBuckets).map(k =>
      s"    SUM(CASE WHEN k = $k THEN CAST($valueCol AS DECIMAL(18,2)) " +
        s"END) AS b$k").mkString(",\n")
    val fold = (0 until maxBuckets).map(k =>
      s"CAST(COALESCE(b$k, 0) AS DOUBLE) * ${math.pow(2, -k)}")
      .mkString("\n    + ")
    s"""SELECT $keyCol,
       |  ($fold) AS decayed_sum
       |FROM (
       |  SELECT $keyCol,
       |$sums
       |  FROM (
       |    SELECT $keyCol, $valueCol,
       |      ($asOfSec - (epoch_us($tsCol) // 1000000))
       |        // $halfLifeSeconds AS k
       |    FROM $table WHERE $tsCol <= TIMESTAMP '$asOfLiteral')
       |  WHERE k < $maxBuckets
       |  GROUP BY $keyCol)
       |ORDER BY $keyCol""".stripMargin
  }

  /** N-step conversion funnel with FIRST-TOUCH semantics: step 1's time
    * is the key's earliest `steps(0)` event; step k's time is the
    * earliest `steps(k-1)` event STRICTLY after step k-1's time and at
    * most `withinSeconds` later. One row per key that reached step 1,
    * with columns `t_1..t_n` (null once the chain breaks) and `reached`
    * (the highest step index attained, 1-based). First-touch is what
    * makes the report deterministic — every step time is a MIN over a
    * fixed predicate, no path search. Repeated step types are allowed
    * (view>click>view>click — the re-engagement funnel): each step is
    * still a MIN strictly after the previous step's time, so the
    * semantics stay unambiguous.
    *
    * Scale shape: ONE pass over the event frame keeps only step-typed
    * rows and the three funnel columns, materialized via `materialize`
    * (default `Materialize.Local`) — an N-step funnel then reads that
    * (typically far smaller) frame N times instead of paying N full
    * corpus scans at 100 TB. The chain itself is n−1 filtered skeleton
    * aggregates on the key — each step frame is at most one row per key,
    * the joins are key-partitioned, and no window ever runs over the raw
    * event stream. `Materialize.Off` restores the lazy N-scan form for
    * callers whose input is already materialized (a cached table, a
    * small frame).
    */
  def funnel(df: DataFrame, keyCol: String, typeCol: String, tsCol: String,
             steps: Seq[String], withinSeconds: Long,
             materialize: graft.pipeline.Materialize =
               graft.pipeline.Materialize.Local): DataFrame = {
    require(steps.size >= 2, s"funnel needs >= 2 steps: $steps")
    require(withinSeconds > 0, s"withinSeconds=$withinSeconds")
    val stepEvents = materialize.cut(
      df.filter(col(typeCol).isin(steps.distinct: _*))
        .select(col(keyCol), col(typeCol), col(tsCol)), "funnel-steps").df
    val first = stepEvents.filter(col(typeCol) === steps.head)
      .groupBy(keyCol).agg(min(tsCol).as("t_1"))
    val chain = steps.tail.zipWithIndex.scanLeft(first) {
      case (prev, (step, i)) =>
        val t0 = s"t_${i + 1}"
        val t1 = s"t_${i + 2}"
        stepEvents.filter(col(typeCol) === step)
          .join(prev.select(col(keyCol), col(t0)), keyCol)
          .filter(col(tsCol) > col(t0) &&
            col(tsCol) <= col(t0) + expr(s"INTERVAL $withinSeconds SECOND"))
          .groupBy(keyCol).agg(min(tsCol).as(t1))
    }
    val joined = chain.reduce((a, b) => a.join(b, Seq(keyCol), "left"))
    val reached = (steps.size to 2 by -1).foldRight(lit(1): Column) {
      case (k, acc) => when(col(s"t_$k").isNotNull, lit(k)).otherwise(acc)
    }
    joined.withColumn("reached", reached)
  }

  /** Next-event TRANSITION matrix (A15i) — the Markov view of behavior
    * ("after a click, what happens next?"): per key in (ts, tie) order,
    * count (type → next_type) transitions and normalize per source type
    * to INTEGER ppm (count·10⁶ div total — the retention_ppm convention,
    * exact at any partitioning). One per-key lag window + one tiny
    * (from, to) group-by; the e26 oracle gate, shared by the streaming
    * per-batch twin.
    *
    * Returns (from_type, next_type, n, p_ppm).
    */
  def transitionMatrix(df: DataFrame, keyCol: String, typeCol: String,
                       tsCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    df.withColumn("next_type", lead(col(typeCol), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col(typeCol).as("from_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p_ppm",
        expr("n * CAST(1000000 AS BIGINT) div SUM(n) OVER " +
          "(PARTITION BY from_type)"))
  }

  /** DAU/WAU STICKINESS (A15j) — the product-health staple: per day,
    * daily actives / trailing-7-day weekly actives as exact integer ppm.
    * Sliding-window COUNT DISTINCT without a distinct window frame:
    * (key, day) skeletons expand each activity day to its 7 covering
    * window-days, distinct-collapse, count — raw events never ride past
    * the first distinct. The e27 oracle gate, shared by the streaming
    * per-batch twin.
    *
    * Returns (day, dau, wau, stickiness_ppm). Note wau covers the 7-day
    * window ENDING at each day; days near the frame's start count only
    * the activity inside the frame (the batch contract — a per-batch
    * streaming probe is a within-window statement).
    */
  def stickiness(df: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    val ud = df
      .select(col(keyCol), date_trunc("day", col(tsCol)).as("day"))
      .distinct()
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col(keyCol),
        explode(expr("sequence(day, day + interval 6 days, " +
          "interval 1 day)")).as("day"))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("wau"))
    dau.join(wau, "day")
      .withColumn("stickiness_ppm",
        expr("dau * CAST(1000000 AS BIGINT) div wau"))
  }
}
