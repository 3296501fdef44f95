package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Event-stream analytics in batch form: tumbling windows, gap-based
  * sessionization, JSON prop extraction. The streaming mirrors live in
  * [[graft.streaming]]; these batch versions are the oracle-checkable
  * semantics.
  *
  * Scale: all three group/shuffle on (time-bucket | user_id | event_type) —
  * high-cardinality, evenly distributed keys. Sessionization's window sort is
  * per-user (shuffle on user_id, sort within partition), which scales
  * linearly with events per user, not total events.
  */
object Events {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A14: 5-minute tumbling-window aggregation (epoch-aligned, matching
    // DuckDB time_bucket's 2000-01-03 origin for minute-divisible widths).
    "e01_tumbling" -> { (s, dir) =>
      Tables(s, dir, "events")
        .groupBy(window(col("ts"), "5 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(expr("CAST(value AS DECIMAL(18,2))")).cast("double").as("sum_value"))
        .select(col("w.start").as("bucket"), col("event_type"), col("n_events"), col("sum_value"))
        .orderBy("bucket", "event_type")
    },

    // A15: gap-based sessionization (30-min inactivity), lag + running sum.
    "e02_sessionize" -> { (s, dir) =>
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val running = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir, "events")
        .withColumn("tsec", col("ts").cast("double"))
        .withColumn("gap", col("tsec") - lag(col("tsec"), 1).over(byUser))
        .withColumn("is_new", when(col("gap").isNull || col("gap") > 1800d, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("is_new")).over(running))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("sess_start"), max(col("ts")).as("sess_end"))
        .orderBy("user_id", "session_id")
    },

    // A17: JSON column extraction from the props payload.
    "e03_json_extract" -> { (s, dir) =>
      Tables(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n_events"))
        .orderBy("event_type")
    },

    // A22: sliding window frame (moving sum/count over last 4 events).
    "e05_moving_sum" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(-3, Window.currentRow)
      Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          sum(expr("CAST(value AS DECIMAL(18,2))")).over(w).cast("double").as("moving_sum"),
          count(lit(1)).over(w).as("n_in_frame"))
        .orderBy("event_id")
    },

    // A22b: time-RANGE window frame (round 16) — the row-frame A22's
    // missing sibling: "sum over the PRECEDING HOUR by event time", a
    // frame whose width is a time interval, not a row count (row frames
    // misreport whenever event density varies — 4 rows can span 4
    // seconds or 4 days). Order key = floor epoch seconds on BOTH
    // engines (Spark cast timestamp→long floors; DuckDB epoch_us //
    // 1e6 floors — epoch()::BIGINT would ROUND and misplace
    // half-second boundaries). Range frames include every tied order
    // key by definition, so tie order never matters; sums ride DECIMAL.
    "e16_range_frame" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("tsec"))
        .rangeBetween(-3600L, 0L)
      Tables(s, dir, "events")
        .withColumn("tsec", col("ts").cast("long"))
        .select(col("event_id"), col("user_id"),
          sum(expr("CAST(value AS DECIMAL(18,2))")).over(w).cast("double")
            .as("hour_sum"),
          count(lit(1)).over(w).as("n_in_hour"))
        .orderBy("event_id")
    },

    // A14c: HOPPING (sliding) windows (round 16) — e01's tumbling agg
    // with overlap: 10-minute windows every 5 minutes, each event in
    // exactly two (dashboards smooth series with exactly this). Same
    // epoch/time_bucket alignment argument as e01; the oracle unrolls
    // the overlap as k ∈ {0,1} bucket offsets.
    "e18_hopping" -> { (s, dir) =>
      Tables(s, dir, "events")
        .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(expr("CAST(value AS DECIMAL(18,2))")).cast("double")
            .as("sum_value"))
        .select(col("w.start").as("bucket"), col("event_type"),
          col("n_events"), col("sum_value"))
        .orderBy("bucket", "event_type")
    },

    // A15f: stateless DEBOUNCE (round 16) — keep an event iff the
    // key's previous raw event is > 10 minutes older: alert
    // de-noising / rate capping. Stateless by contract (vs previous
    // RAW, not previous KEPT — the kept-chain is a sequential fold no
    // engine replays); one per-key window.
    "e19_debounce" -> { (s, dir) =>
      graft.operators.EventOps.debounce(Tables(s, dir, "events"),
          "user_id", "ts", cooldownSeconds = 600L)
        .select(col("event_id"), col("user_id"), col("ts"))
        .orderBy("event_id")
    },

    // A15g: KEPT-CHAIN debounce (round 17) — the true-cooldown rate
    // limiter: keep iff > 10 min after the last KEPT event. A
    // sequential per-key fold (secondary sort + O(1)-state
    // mapPartitions); the oracle is a per-key recursive CTE advancing
    // each key's chain one kept event per iteration — two different
    // algorithms, one integer-microsecond contract.
    "e20_debounce_chain" -> { (s, dir) =>
      graft.operators.EventOps.debounceChain(Tables(s, dir, "events"),
          "user_id", "ts", cooldownSeconds = 600L)
        .select(col("event_id"), col("user_id"), col("ts"))
        .orderBy("event_id")
    },

    // A34: exponentially time-decayed engagement sum (round 16) — the
    // ranking/feature staple, made ENGINE-EXACT: integer half-life
    // bucket quotients give exact power-of-two weights, DECIMAL bucket
    // sums are order-free, and the per-key total is a fixed
    // left-to-right 64-term chain — bit-identical across engines with
    // no ROUND anywhere (the only transcendental-free decay).
    "e17_decayed_sum" -> { (s, dir) =>
      graft.operators.EventOps.decayedSum(Tables(s, dir, "events"),
          "user_id", "ts", "value",
          java.sql.Timestamp.valueOf("2024-02-01 00:00:00"),
          halfLifeSeconds = 86400L)
        .orderBy("user_id")
    },

    // A23: lead/lag — inter-event gap seconds per user.
    "e06_lag_delta" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables(s, dir, "events")
        .withColumn("tsec", col("ts").cast("double"))
        .select(col("event_id"), col("user_id"),
          (col("tsec") - lag(col("tsec"), 1).over(w)).as("gap_sec"))
        .orderBy("event_id")
    },

    // A18: as-of join — for each purchase, the user's latest preceding
    // click (graft.operators.AsofJoin: one shuffle, union + running last).
    "e04_asof" -> { (s, dir) =>
      val events = Tables(s, dir, "events")
      val purchases = events.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = events.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
      graft.operators.AsofJoin(purchases, clicks, Seq("user_id"), "ts", "ts",
          Seq("click_id"))
        .select(col("event_id"), col("user_id"), col("asof_click_id").as("click_id"))
        .orderBy("event_id")
    },

    // A14b: gap-filling hourly resample + forward fill — the time-series
    // op tumbling windows can't express: a bucket with NO events must
    // still exist (monitoring charts, rate math, join alignment all break
    // on missing rows), carrying n=0 and the last observed hourly sum.
    // Scaffold = per-user explode(sequence(min_bucket, max_bucket, 1h))
    // — the span aggregate is a skeleton frame, the explode is row-local,
    // and the fill is one per-user window (never a hot key). The first
    // scaffold bucket is observed by construction, so the fill never
    // reads before the data. Money-sums ride DECIMAL (order-free).
    "e07_gapfill" -> { (s, dir) =>
      graft.operators.EventOps.gapFill(Tables(s, dir, "events"),
          "user_id", "ts", "value")
        .orderBy("user_id", "bucket")
    },

    // A15b: three-step funnel (view → click → purchase, each within 24h
    // of the previous step's FIRST qualifying time (sized so all three
    // reach classes are populated on the test corpus: 90/35/25 at sf0.01)) — the conversion
    // report every event pipeline ships. First-touch semantics make it
    // deterministic: step k's time is the MIN event time strictly after
    // step k-1 and within the window; per-user reached ∈ {1,2,3}. Three
    // filtered skeleton aggregates joined on user_id — no window over
    // the event stream, no per-event state.
    // A15d: session path mining — gap-based sessions (the e02 rule)
    // reduced to their ordered event-type 8-prefix paths, counted
    // corpus-wide, top-25 under the (count DESC, path) total order.
    "e10_session_paths" -> { (s, dir) =>
      graft.operators.EventOps.sessionPaths(Tables(s, dir, "events"),
        "user_id", "event_type", "ts")
    },

    // A15c: weekly cohort retention — keys cohorted by the ISO week of
    // their first qualifying event; each (cohort, offset) cell counts
    // the cohort members active again k weeks later, with an
    // integral-ppm rate. The activity definition is high-value
    // purchases (sparse, ~3% of events), so the curve actually DECAYS
    // on the test corpus (dense all-events activity saturates every
    // cell at 100%): four cohorts, rates from 100% down to 28% at
    // sf0.01. Skeleton frames end to end: distinct (user, week)
    // collapse, cohort min, one key join, one (cohort, offset) group-by.
    "e09_retention" -> { (s, dir) =>
      graft.operators.EventOps.retention(
          Tables(s, dir, "events")
            .filter(col("event_type") === "purchase" && col("value") > 47.5),
          "user_id", "ts")
        .orderBy("cohort", "week_offset")
    },

    "e08_funnel" -> { (s, dir) =>
      graft.operators.EventOps.funnel(Tables(s, dir, "events"),
          "user_id", "event_type", "ts",
          Seq("view", "click", "purchase"), withinSeconds = 86400L)
        .select(col("user_id"), col("t_1").as("t_view"),
          col("t_2").as("t_click"), col("t_3").as("t_purchase"),
          col("reached"))
        .orderBy("user_id")
    },

    // A18b: as-of join with a match TOLERANCE (round 16) — the
    // feature-store contract: a nearest preceding click STALER than 4
    // hours yields null instead of silently serving stale state. Same
    // single-shuffle union+window plan as e04; the tolerance is a
    // row-local null-out after the window, never a range predicate.
    "e13_asof_tolerance" -> { (s, dir) =>
      val events = Tables(s, dir, "events")
      val purchases = events.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = events.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
      graft.operators.AsofJoin(purchases, clicks, Seq("user_id"), "ts", "ts",
          Seq("click_id"), toleranceSeconds = 4 * 3600.0)
        .select(col("event_id"), col("user_id"),
          col("asof_click_id").as("click_id"))
        .orderBy("event_id")
    },

    // A18c: FORWARD as-of join (round 16) — "the next purchase after
    // this click, within an hour": the other merge_asof direction,
    // same one-shuffle traversal over descending timestamps. DuckDB
    // ASOF is backward-only, so the oracle replays the union+window
    // formulation itself (tie-break included: greatest payload among
    // equal-timestamp rights).
    "e14_asof_forward" -> { (s, dir) =>
      val events = Tables(s, dir, "events")
      val clicks = events.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = events.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"))
      graft.operators.AsofJoin(clicks, purchases, Seq("user_id"), "ts", "ts",
          Seq("purchase_id"), direction = "forward",
          toleranceSeconds = 3600.0)
        .select(col("event_id"), col("user_id"),
          col("asof_purchase_id").as("next_purchase_id"))
        .orderBy("event_id")
    },

    // A18c (SURVEY row): NEAREST as-of join (round 17) — the third merge_asof
    // direction: the closest click in EITHER direction within 24h,
    // ties toward backward. Both traversals ride ONE key exchange
    // (second window = a sort, not a shuffle); per-direction tolerance
    // null-outs precede the |gap| choice. Oracle: an independent
    // direct-search LATERAL (order by |gap|, side, payload) — two
    // algorithms, one answer.
    "e21_asof_nearest" -> { (s, dir) =>
      val events = Tables(s, dir, "events")
      val purchases = events.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = events.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
      graft.operators.AsofJoin(purchases, clicks, Seq("user_id"), "ts", "ts",
          Seq("click_id"), direction = "nearest",
          toleranceSeconds = 86400.0)
        .select(col("event_id"), col("user_id"),
          col("asof_click_id").as("click_id"))
        .orderBy("event_id")
    },

    // A15h: funnel step-LATENCY distribution (round 17) — the question
    // right after "who converts" is "how long each step takes": per
    // funnel step, exact percentiles of (t_k − t_{k−1}) seconds across
    // converting users. Composes the single-scan funnel with the q15
    // percentile convention (Spark percentile ↔ quantile_cont, ROUND 4;
    // gaps as double epoch-second differences on both engines).
    "e24_funnel_latency" -> { (s, dir) =>
      val f = graft.operators.EventOps.funnel(Tables(s, dir, "events"),
        "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"), withinSeconds = 86400L)
      val g2 = f.filter(col("t_2").isNotNull)
        .select(lit(2L).as("step"),
          (col("t_2").cast("double") - col("t_1").cast("double")).as("gap"))
      val g3 = f.filter(col("t_3").isNotNull)
        .select(lit(3L).as("step"),
          (col("t_3").cast("double") - col("t_2").cast("double")).as("gap"))
      g2.unionByName(g3)
        .groupBy(col("step"))
        .agg(count(lit(1)).as("n"),
          round(expr("percentile(gap, 0.5)"), 4).as("p50_sec"),
          round(expr("percentile(gap, 0.9)"), 4).as("p90_sec"))
        .orderBy("step")
    },

    // A37: exact integer RATE-ANOMALY detection (round 17) — flag the
    // (type, 5-min bucket) windows whose count deviates > 3σ from the
    // trailing-12-bucket mean. The z-test cross-multiplies to
    // (n·c−S)² > k²·(n·Sq−S²) — pure long arithmetic, no float, no
    // rounding discipline: both engines agree bit-for-bit.
    "e23_rate_anomaly" -> { (s, dir) =>
      graft.operators.EventOps.rateAnomalies(Tables(s, dir, "events"),
          "event_type", "ts", bucketWidth = "5 minutes",
          trailing = 12, k = 3)
        .orderBy("event_type", "bucket")
    },

    // A36: MULTI-TOUCH attribution (round 17) — which touch types get
    // credit for conversions: each touch attributes to the user's NEXT
    // purchase within 24h (single-attribution, as-of traversal — no
    // interval join), position model (40/20/40), credit as exact
    // integer ppm with the floor remainder on the last touch — every
    // aggregate is an order-free long sum both engines replay.
    "e22_attribution" -> { (s, dir) =>
      graft.operators.Attribution.report(Tables(s, dir, "events"),
          "user_id", "ts", "event_type",
          conversionType = "purchase",
          touchTypes = Seq("view", "click", "signup"),
          lookbackSeconds = 86400L)
        .orderBy("event_type")
    },

    // A15j: DAU/WAU STICKINESS (round 17) — the product-health staple:
    // per day, daily actives / trailing-7-day weekly actives as exact
    // integer ppm. Sliding-window COUNT DISTINCT without a distinct
    // window frame: (user, day) skeletons expand each activity day to
    // its 7 covering window-days, distinct-collapse, count — raw
    // events never ride past the first distinct. Oracle: the direct
    // correlated count-distinct (independent algorithm).
    "e27_stickiness" -> { (s, dir) =>
      graft.operators.EventOps.stickiness(Tables(s, dir, "events"),
          "user_id", "ts")
        .orderBy("day")
    },

    // A15i: next-event TRANSITION matrix (round 17) — the Markov view
    // of user behavior ("after a click, what happens next?"): per key
    // in (ts, tie) order, count (type → next_type) transitions and
    // normalize per source type to INTEGER ppm (count·10⁶ div total —
    // the retention_ppm convention, exact at any partitioning). One
    // per-key lag window + one tiny (from, to) group-by.
    "e26_transitions" -> { (s, dir) =>
      graft.operators.EventOps.transitionMatrix(Tables(s, dir, "events"),
          "user_id", "event_type", "ts", "event_id")
        .orderBy("from_type", "next_type")
    },

    // A15b (deep variant): SIX-step funnel with REPEATED step types —
    // the re-engagement shape (signup → view → click → view → click →
    // purchase). The chain reads the step-typed pre-filter ONCE (the
    // round-16 single-scan funnel: one corpus scan materialized, then
    // six skeleton aggregates over it — not six corpus scans), and the
    // repeated types exercise the lifted distinct-steps restriction.
    "e12_funnel6" -> { (s, dir) =>
      graft.operators.EventOps.funnel(Tables(s, dir, "events"),
          "user_id", "event_type", "ts",
          Seq("signup", "view", "click", "view", "click", "purchase"),
          withinSeconds = 86400L)
        .orderBy("user_id")
    },

    // A31: SCD2 validity intervals (round 16) — the warehouse temporal
    // model: per customer, consecutive orders with the SAME status
    // collapse (no-op updates are the bulk of change streams) and each
    // surviving version carries [valid_from, valid_to) + version +
    // is_current. 15000 orders → 10508 versions, up to 18 per customer
    // at sf0.01. Two windows over ONE (key × (date, orderkey)) sort.
    "e15_scd2" -> { (s, dir) =>
      graft.operators.Temporal.validityIntervals(
          Tables(s, dir, "orders")
            .select(col("o_custkey").as("custkey"),
              col("o_orderdate").as("ts"), col("o_orderkey").as("tie"),
              col("o_orderstatus").as("status")),
          "custkey", "ts", Seq("status"), "tie")
        .select(col("custkey"), col("status"), col("valid_from"),
          col("valid_to"), col("version"), col("is_current"))
        .orderBy("custkey", "version")
    },

    // A31b: SCD2 POINT-IN-TIME snapshot (round 17) — the lookup the
    // intervals exist FOR: one version per key valid at T
    // (valid_from <= T < valid_to, current when valid_to null). A pure
    // filter over e15's frame — no window, no shuffle; at a warehouse
    // this is a partition-pruned scan. Same SCD2 oracle + the same
    // filter.
    "e25_scd2_snapshot" -> { (s, dir) =>
      val v = graft.operators.Temporal.validityIntervals(
        Tables(s, dir, "orders")
          .select(col("o_custkey").as("custkey"),
            col("o_orderdate").as("ts"), col("o_orderkey").as("tie"),
            col("o_orderstatus").as("status")),
        "custkey", "ts", Seq("status"), "tie")
      graft.operators.Temporal.snapshotAt(v, lit("1997-06-15").cast("date"))
        .select(col("custkey"), col("status"), col("valid_from"),
          col("valid_to"), col("version"), col("is_current"))
        .orderBy("custkey")
    },

    // A15c (calendar variant): MONTH-cohort retention — the calendar-
    // length periods e09's fixed-second division deliberately refuses
    // (a month is 28–31 days). Runs over ORDERS, not events: the events
    // table spans one calendar month (a single degenerate cohort cell),
    // while orders spans 1995–2001 — 79 month offsets, 1845 cells at
    // sf0.01. Offsets are months_between on month-truncated starts
    // (integral by construction) ↔ DuckDB date_diff('month', …): exact
    // calendar arithmetic on both sides, no float boundary.
    "e11_retention_month" -> { (s, dir) =>
      graft.operators.EventOps.retentionCalendar(
          Tables(s, dir, "orders")
            .select(col("o_custkey").as("user_id"),
              col("o_orderdate").as("ts")),
          "user_id", "ts", "month")
        .orderBy("cohort", "period_offset")
    },

    // A41: market-basket CO-OCCURRENCE (round 18) — "behaviors that
    // co-occur within a user-day": baskets at the (user, day) grain
    // (sizes 1–5 on this fixture), items = event types. maxBasket=4
    // exercises the whole-basket drop (the 5-item power-user days are
    // excluded — all statistics describe the kept population);
    // minSupport=2 the tail prune. All ppm stats exact integer (lift =
    // the documented floor composition). Oracle: independent self-join
    // formulation over the same kept baskets.
    "e28_cooccurrence" -> { (s, dir) =>
      val baskets = Tables(s, dir, "events")
        .withColumn("__b",
          concat_ws(":", col("user_id"), col("ts").cast("date")))
      graft.operators.Cooccurrence.pairs(baskets, "__b", "event_type",
          maxBasket = 4, minSupport = 2)
        .orderBy("item_a", "item_b")
    },

    // A44: RFM SEGMENTATION (round 18) — the lifecycle-marketing
    // staple: quintile scores for Recency (last activity — 5 = most
    // recent), Frequency (event count), Monetary (DECIMAL value sum),
    // composed into the 111..555 segment code. Exact SQL-NTILE
    // semantics WITHOUT the single-partition window: each score rides
    // GlobalRank's two-phase range-partitioned rank (A44's real
    // content); ties broken by user_id so every score is
    // partitioning-independent. The user skeleton is persisted once
    // for its three ranking passes.
    "e29_rfm" -> { (s, dir) =>
      // releaseAfterNextUse is armed only after the third ranking is
      // built: each withNtile runs its count probe at construction, so
      // if armed earlier, u would be freed by the FIRST probe's query end
      // and the next two would re-execute the corpus aggregation (the
      // r17 advisory race, avoided by construction here)
      val persistedU = org.apache.spark.sql.graftbridge.Bridge
        .persistedCopy(
          Tables(s, dir, "events").groupBy(col("user_id"))
            .agg(max(col("ts")).as("last_ts"),
              count(lit(1)).as("n_events"),
              coalesce(sum(expr("CAST(value AS DECIMAL(18,6))")),
                lit(0).cast("decimal(38,6)")).as("__mon")),
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val u = persistedU.df
      import graft.operators.GlobalRank
      val rs = GlobalRank.withNtile(u,
          Seq(col("last_ts"), col("user_id")), 5, "r_score")
        .select(col("user_id"), col("r_score"))
      val fs = GlobalRank.withNtile(u,
          Seq(col("n_events"), col("user_id")), 5, "f_score")
        .select(col("user_id"), col("f_score"))
      val ms = GlobalRank.withNtile(u,
          Seq(col("__mon"), col("user_id")), 5, "m_score")
        .select(col("user_id"), col("m_score"))
      persistedU.releaseAfterNextUse()
      rs.join(fs, "user_id").join(ms, "user_id")
        .withColumn("rfm",
          col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
        .orderBy("user_id")
    }
  )

  val oracles: Map[String, String] = Map(
    "e01_tumbling" ->
      """SELECT time_bucket(INTERVAL '5 minutes', ts) AS bucket, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    "e02_sessionize" ->
      """WITH marked AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(epoch_us(ts) AS DOUBLE) / 1000000.0
        |      - LAG(CAST(epoch_us(ts) AS DOUBLE) / 1000000.0)
        |        OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        |  FROM events
        |), sess AS (
        |  SELECT user_id, ts,
        |    SUM(CASE WHEN gap IS NULL OR gap > 1800.0 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM marked
        |)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  COUNT(*) AS n_events, MIN(ts) AS sess_start, MAX(ts) AS sess_end
        |FROM sess
        |GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    "e05_moving_sum" ->
      """SELECT event_id, user_id,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS moving_sum,
        |  COUNT(*) OVER w AS n_in_frame
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    "e18_hopping" ->
      """SELECT time_bucket(INTERVAL '5 minutes', ts)
        |    - k * INTERVAL '5 minutes' AS bucket,
        |  event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k)
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    "e19_debounce" ->
      """SELECT event_id, user_id, ts FROM (
        |  SELECT event_id, user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev
        |  FROM events)
        |WHERE prev IS NULL
        |  OR CAST(epoch_us(ts) AS DOUBLE) / 1000000.0
        |     - CAST(epoch_us(prev) AS DOUBLE) / 1000000.0 > 600.0
        |ORDER BY event_id""".stripMargin,

    // e20: the kept-chain fold as a recursive CTE — each iteration
    // advances every key's chain by one kept event (the next event
    // strictly > cooldown micros after the current kept one, (ts,
    // event_id) order); iterations = the longest chain. Pure integer
    // epoch_us arithmetic, mirroring the engine's fold register.
    "e20_debounce_chain" ->
      """WITH RECURSIVE kept AS (
        |  (SELECT user_id, ts, event_id FROM (
        |     SELECT user_id, ts, event_id,
        |            row_number() OVER (PARTITION BY user_id
        |                               ORDER BY ts, event_id) AS rn
        |     FROM events) WHERE rn = 1)
        |  UNION ALL
        |  SELECT nxt.user_id, nxt.ts, nxt.event_id
        |  FROM kept, LATERAL (
        |    SELECT e.user_id, e.ts, e.event_id
        |    FROM events e
        |    WHERE e.user_id = kept.user_id
        |      AND epoch_us(e.ts) - epoch_us(kept.ts) > 600 * 1000000
        |    ORDER BY e.ts, e.event_id
        |    LIMIT 1) nxt
        |)
        |SELECT event_id, user_id, ts FROM kept
        |ORDER BY event_id""".stripMargin,

    "e17_decayed_sum" ->
      graft.operators.EventOps.decayedSumOracleSql("events", "user_id",
        "ts", "value", "2024-02-01 00:00:00",
        asOfSec = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
          .getTime / 1000, halfLifeSeconds = 86400L),

    "e16_range_frame" ->
      """SELECT event_id, user_id,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |    AS hour_sum,
        |  COUNT(*) OVER w AS n_in_hour
        |FROM (SELECT event_id, user_id, value,
        |        (epoch_us(ts) // 1000000) AS tsec FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY tsec
        |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    "e06_lag_delta" ->
      """SELECT event_id, user_id,
        |  CAST(epoch_us(ts) AS DOUBLE) / 1000000.0
        |    - LAG(CAST(epoch_us(ts) AS DOUBLE) / 1000000.0)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_sec
        |FROM events
        |ORDER BY event_id""".stripMargin,

    "e04_asof" ->
      """SELECT p.event_id, p.user_id, c.click_id
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN
        |  (SELECT user_id, ts, event_id AS click_id FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin,

    "e03_json_extract" ->
      """SELECT event_type,
        |  CAST(SUM(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
        |  COUNT(*) AS n_events
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "e07_gapfill" ->
      """WITH ev AS (
        |  SELECT user_id, date_trunc('hour', ts) AS bucket, value FROM events),
        |obs AS (
        |  SELECT user_id, bucket, COUNT(*) AS n_obs,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_obs
        |  FROM ev GROUP BY 1, 2),
        |span AS (
        |  SELECT user_id, MIN(bucket) AS b0, MAX(bucket) AS b1
        |  FROM ev GROUP BY 1),
        |scaffold AS (
        |  SELECT user_id,
        |    unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket
        |  FROM span)
        |SELECT s.user_id, s.bucket,
        |  COALESCE(o.n_obs, 0) AS n_events,
        |  last_value(o.sum_obs IGNORE NULLS) OVER (
        |    PARTITION BY s.user_id ORDER BY s.bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_sum,
        |  CAST(o.n_obs IS NOT NULL AS INT) AS observed
        |FROM scaffold s
        |LEFT JOIN obs o ON o.user_id = s.user_id AND o.bucket = s.bucket
        |ORDER BY s.user_id, s.bucket""".stripMargin,

    "e10_session_paths" ->
      """WITH marked AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CAST(epoch_us(ts) AS DOUBLE) / 1000000.0
        |      - LAG(CAST(epoch_us(ts) AS DOUBLE) / 1000000.0)
        |        OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        |  FROM events),
        |sess AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    SUM(CASE WHEN gap IS NULL OR gap > 1800.0 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM marked),
        |paths AS (
        |  SELECT array_to_string(
        |    list_slice(list(event_type ORDER BY ts, event_id), 1, 8),
        |    '>') AS path
        |  FROM sess GROUP BY user_id, sid)
        |SELECT path, COUNT(*) AS n_sessions
        |FROM paths GROUP BY path
        |ORDER BY n_sessions DESC, path
        |LIMIT 25""".stripMargin,

    "e09_retention" ->
      """WITH active AS (
        |  SELECT DISTINCT user_id, date_trunc('week', ts) AS period
        |  FROM events
        |  WHERE ts IS NOT NULL AND event_type = 'purchase' AND value > 47.5),
        |cohorts AS (
        |  SELECT user_id, MIN(period) AS cohort FROM active GROUP BY 1),
        |sizes AS (
        |  SELECT cohort, COUNT(*) AS n_cohort FROM cohorts GROUP BY 1),
        |cells AS (
        |  SELECT c.cohort,
        |    (epoch(a.period)::BIGINT - epoch(c.cohort)::BIGINT) // 604800
        |      AS week_offset,
        |    COUNT(*) AS n_active
        |  FROM active a JOIN cohorts c USING (user_id)
        |  GROUP BY 1, 2)
        |SELECT cells.cohort, cells.week_offset, cells.n_active, s.n_cohort,
        |  (cells.n_active * 1000000) // s.n_cohort AS retention_ppm
        |FROM cells JOIN sizes s USING (cohort)
        |ORDER BY cells.cohort, cells.week_offset""".stripMargin,

    "e08_funnel" ->
      """WITH v AS (
        |  SELECT user_id, MIN(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (
        |  SELECT e.user_id, MIN(e.ts) AS t_click
        |  FROM events e JOIN v ON v.user_id = e.user_id
        |  WHERE e.event_type = 'click' AND e.ts > v.t_view
        |    AND e.ts <= v.t_view + INTERVAL 24 HOUR
        |  GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, MIN(e.ts) AS t_purchase
        |  FROM events e JOIN c ON c.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        |    AND e.ts <= c.t_click + INTERVAL 24 HOUR
        |  GROUP BY 1)
        |SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
        |  CASE WHEN p.t_purchase IS NOT NULL THEN 3
        |       WHEN c.t_click IS NOT NULL THEN 2 ELSE 1 END AS reached
        |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
        |ORDER BY v.user_id""".stripMargin,

    "e15_scd2" ->
      """WITH src AS (
        |  SELECT o_custkey AS custkey, o_orderdate AS ts,
        |    o_orderkey AS tie, o_orderstatus AS status
        |  FROM orders),
        |marked AS (
        |  SELECT *, (lag(status) OVER w IS DISTINCT FROM status
        |             OR lag(tie) OVER w IS NULL) AS chg
        |  FROM src WINDOW w AS (PARTITION BY custkey ORDER BY ts, tie)),
        |kept AS (SELECT custkey, ts, tie, status FROM marked WHERE chg),
        |v AS (
        |  SELECT custkey, status, ts AS valid_from,
        |    lead(ts) OVER w2 AS valid_to,
        |    row_number() OVER w2 AS version
        |  FROM kept WINDOW w2 AS (PARTITION BY custkey ORDER BY ts, tie))
        |SELECT custkey, status, valid_from, valid_to, version,
        |  CAST(valid_to IS NULL AS INT) AS is_current
        |FROM v
        |ORDER BY custkey, version""".stripMargin,

    // e25: the same SCD2 CTEs + the half-open point-in-time filter
    "e25_scd2_snapshot" ->
      """WITH src AS (
        |  SELECT o_custkey AS custkey, o_orderdate AS ts,
        |    o_orderkey AS tie, o_orderstatus AS status
        |  FROM orders),
        |marked AS (
        |  SELECT *, (lag(status) OVER w IS DISTINCT FROM status
        |             OR lag(tie) OVER w IS NULL) AS chg
        |  FROM src WINDOW w AS (PARTITION BY custkey ORDER BY ts, tie)),
        |kept AS (SELECT custkey, ts, tie, status FROM marked WHERE chg),
        |v AS (
        |  SELECT custkey, status, ts AS valid_from,
        |    lead(ts) OVER w2 AS valid_to,
        |    row_number() OVER w2 AS version
        |  FROM kept WINDOW w2 AS (PARTITION BY custkey ORDER BY ts, tie))
        |SELECT custkey, status, valid_from, valid_to, version,
        |  CAST(valid_to IS NULL AS INT) AS is_current
        |FROM v
        |WHERE valid_from <= DATE '1997-06-15'
        |  AND (valid_to IS NULL OR valid_to > DATE '1997-06-15')
        |ORDER BY custkey""".stripMargin,

    "e13_asof_tolerance" ->
      """SELECT p.event_id, p.user_id,
        |  CASE WHEN c.ts >= p.ts - INTERVAL 4 HOUR THEN c.click_id END
        |    AS click_id
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN
        |  (SELECT user_id, ts, event_id AS click_id FROM events
        |   WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin,

    // e27: the direct correlated count-distinct — an independent
    // algorithm from the engine's skeleton expansion
    "e27_stickiness" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, date_trunc('day', ts) AS day
        |  FROM events),
        |dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY 1)
        |SELECT d.day, d.dau,
        |  (SELECT COUNT(DISTINCT u.user_id) FROM ud u
        |   WHERE u.day BETWEEN d.day - INTERVAL 6 DAY AND d.day) AS wau,
        |  CAST(d.dau * CAST(1000000 AS BIGINT) //
        |       (SELECT COUNT(DISTINCT u.user_id) FROM ud u
        |        WHERE u.day BETWEEN d.day - INTERVAL 6 DAY AND d.day)
        |       AS BIGINT)
        |    AS stickiness_ppm
        |FROM dau d ORDER BY d.day""".stripMargin,

    // e26: the same lead pairs + integer-ppm normalization
    "e26_transitions" ->
      """WITH p AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |                           ORDER BY ts, event_id) AS next_type
        |  FROM events),
        |c AS (
        |  SELECT from_type, next_type, COUNT(*) AS n
        |  FROM p WHERE next_type IS NOT NULL
        |  GROUP BY 1, 2)
        |SELECT from_type, next_type, n,
        |  CAST((n * CAST(1000000 AS BIGINT))
        |       // SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS p_ppm
        |FROM c
        |ORDER BY from_type, next_type""".stripMargin,

    // e24: e08's funnel CTEs + per-step gap percentiles (quantile_cont
    // ↔ Spark percentile under ROUND 4, the q15 precedent; gaps as
    // double epoch-second differences, one division per value on both
    // engines)
    "e24_funnel_latency" ->
      """WITH v AS (
        |  SELECT user_id, MIN(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (
        |  SELECT e.user_id, MIN(e.ts) AS t_click
        |  FROM events e JOIN v ON v.user_id = e.user_id
        |  WHERE e.event_type = 'click' AND e.ts > v.t_view
        |    AND e.ts <= v.t_view + INTERVAL 24 HOUR
        |  GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, MIN(e.ts) AS t_purchase
        |  FROM events e JOIN c ON c.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        |    AND e.ts <= c.t_click + INTERVAL 24 HOUR
        |  GROUP BY 1),
        |g AS (
        |  SELECT CAST(2 AS BIGINT) AS step,
        |    epoch_us(t_click) / 1000000.0 - epoch_us(t_view) / 1000000.0
        |      AS gap
        |  FROM v JOIN c USING (user_id)
        |  UNION ALL
        |  SELECT CAST(3 AS BIGINT),
        |    epoch_us(t_purchase) / 1000000.0 - epoch_us(t_click) / 1000000.0
        |  FROM c JOIN p USING (user_id))
        |SELECT step, COUNT(*) AS n,
        |  ROUND(quantile_cont(gap, 0.5), 4) AS p50_sec,
        |  ROUND(quantile_cont(gap, 0.9), 4) AS p90_sec
        |FROM g GROUP BY step ORDER BY step""".stripMargin,

    // e23: the same integer cross-multiplied z-test over the same
    // trailing frame — time_bucket ≡ Spark's window() for
    // minute-divisible widths (the e01 alignment argument)
    "e23_rate_anomaly" ->
      """WITH c AS (
        |  SELECT event_type, time_bucket(INTERVAL '5 minutes', ts)
        |    AS bucket, COUNT(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, bucket, n_events,
        |    COUNT(*) OVER f AS n,
        |    SUM(n_events) OVER f AS s,
        |    SUM(n_events * n_events) OVER f AS sq
        |  FROM c
        |  WINDOW f AS (PARTITION BY event_type ORDER BY bucket
        |               ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, bucket, n_events,
        |  CAST(s AS BIGINT) AS trailing_sum
        |FROM w
        |WHERE n = 12
        |  AND (n * n_events - s) * (n * n_events - s)
        |      > 9 * (n * sq - s * s)
        |ORDER BY event_type, bucket""".stripMargin,

    // e22: the same as-of traversal + rank + integer-ppm credit,
    // replayed natively (the union/window lockstep convention)
    "e22_attribution" ->
      """WITH base AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS us, event_type,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_conv
        |  FROM events
        |  WHERE event_type IN ('purchase', 'view', 'click', 'signup')),
        |m AS (
        |  SELECT *,
        |    last_value(CASE WHEN is_conv = 1 THEN us END IGNORE NULLS)
        |      OVER w AS conv_us,
        |    last_value(CASE WHEN is_conv = 1 THEN event_id END IGNORE NULLS)
        |      OVER w AS conv_id
        |  FROM base
        |  WINDOW w AS (PARTITION BY user_id
        |               ORDER BY us DESC, is_conv ASC, event_id ASC
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |t AS (
        |  SELECT * FROM m
        |  WHERE is_conv = 0 AND conv_id IS NOT NULL
        |    AND us < conv_us AND conv_us - us <= 86400::BIGINT * 1000000),
        |r AS (
        |  SELECT event_type,
        |    row_number() OVER (PARTITION BY user_id, conv_id
        |                       ORDER BY us, event_id) AS rn,
        |    count(*) OVER (PARTITION BY user_id, conv_id) AS n
        |  FROM t)
        |SELECT event_type, COUNT(*) AS n_touches,
        |  CAST(SUM(credit) AS BIGINT) AS credit_ppm
        |FROM (
        |  SELECT event_type,
        |    CASE WHEN n = 1 THEN 1000000
        |         WHEN n = 2 THEN 500000
        |         WHEN rn = 1 THEN 400000
        |         WHEN rn = n THEN 600000 - (n - 2) * (200000 // (n - 2))
        |         ELSE 200000 // (n - 2) END AS credit
        |  FROM r)
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    // e21: the independent direct-search formulation — nearest |gap|
    // first, backward preferred on ties, greatest click_id among
    // equal-timestamp rights (the engine's max-payload tie-break)
    "e21_asof_nearest" ->
      """WITH purchases AS (
        |  SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase'),
        |clicks AS (
        |  SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, nxt.click_id
        |FROM purchases p LEFT JOIN LATERAL (
        |  SELECT c.event_id AS click_id
        |  FROM clicks c
        |  WHERE c.user_id = p.user_id
        |    AND abs(epoch_us(c.ts) - epoch_us(p.ts))
        |        <= 86400::BIGINT * 1000000
        |  ORDER BY abs(epoch_us(c.ts) - epoch_us(p.ts)),
        |           (epoch_us(c.ts) > epoch_us(p.ts)),
        |           c.event_id DESC
        |  LIMIT 1) nxt ON TRUE
        |ORDER BY p.event_id""".stripMargin,

    "e14_asof_forward" ->
      """WITH clicks AS (
        |  SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'click'),
        |purchases AS (
        |  SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase'),
        |u AS (
        |  SELECT user_id, ts, 1 AS side, NULL::BIGINT AS pid,
        |    NULL::TIMESTAMP AS pts, event_id AS cid
        |  FROM clicks
        |  UNION ALL
        |  SELECT user_id, ts, 0 AS side, event_id, ts, NULL
        |  FROM purchases),
        |m AS (
        |  SELECT *,
        |    last_value(pid IGNORE NULLS) OVER w AS match_pid,
        |    last_value(pts IGNORE NULLS) OVER w AS match_ts
        |  FROM u
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts DESC, side, pid
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT cid AS event_id, user_id,
        |  CASE WHEN match_ts <= ts + INTERVAL 1 HOUR THEN match_pid END
        |    AS next_purchase_id
        |FROM m WHERE side = 1
        |ORDER BY event_id""".stripMargin,

    "e12_funnel6" ->
      """WITH s1 AS (
        |  SELECT user_id, MIN(ts) AS t_1 FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t_2
        |  FROM events e JOIN s1 ON s1.user_id = e.user_id
        |  WHERE e.event_type = 'view' AND e.ts > s1.t_1
        |    AND e.ts <= s1.t_1 + INTERVAL 24 HOUR GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t_3
        |  FROM events e JOIN s2 ON s2.user_id = e.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s2.t_2
        |    AND e.ts <= s2.t_2 + INTERVAL 24 HOUR GROUP BY 1),
        |s4 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t_4
        |  FROM events e JOIN s3 ON s3.user_id = e.user_id
        |  WHERE e.event_type = 'view' AND e.ts > s3.t_3
        |    AND e.ts <= s3.t_3 + INTERVAL 24 HOUR GROUP BY 1),
        |s5 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t_5
        |  FROM events e JOIN s4 ON s4.user_id = e.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s4.t_4
        |    AND e.ts <= s4.t_4 + INTERVAL 24 HOUR GROUP BY 1),
        |s6 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t_6
        |  FROM events e JOIN s5 ON s5.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s5.t_5
        |    AND e.ts <= s5.t_5 + INTERVAL 24 HOUR GROUP BY 1)
        |SELECT user_id, t_1, t_2, t_3, t_4, t_5, t_6,
        |  CASE WHEN t_6 IS NOT NULL THEN 6 WHEN t_5 IS NOT NULL THEN 5
        |       WHEN t_4 IS NOT NULL THEN 4 WHEN t_3 IS NOT NULL THEN 3
        |       WHEN t_2 IS NOT NULL THEN 2 ELSE 1 END AS reached
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
        |  LEFT JOIN s4 USING (user_id) LEFT JOIN s5 USING (user_id)
        |  LEFT JOIN s6 USING (user_id)
        |ORDER BY user_id""".stripMargin,

    "e11_retention_month" ->
      """WITH active AS (
        |  SELECT DISTINCT o_custkey AS user_id,
        |    CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS period
        |  FROM orders WHERE o_orderdate IS NOT NULL),
        |cohorts AS (
        |  SELECT user_id, MIN(period) AS cohort FROM active GROUP BY 1),
        |sizes AS (
        |  SELECT cohort, COUNT(*) AS n_cohort FROM cohorts GROUP BY 1),
        |cells AS (
        |  SELECT c.cohort,
        |    date_diff('month', c.cohort, a.period) AS period_offset,
        |    COUNT(*) AS n_active
        |  FROM active a JOIN cohorts c USING (user_id)
        |  GROUP BY 1, 2)
        |SELECT cells.cohort, cells.period_offset, cells.n_active,
        |  s.n_cohort,
        |  (cells.n_active * 1000000) // s.n_cohort AS retention_ppm
        |FROM cells JOIN sizes s USING (cohort)
        |ORDER BY cells.cohort, cells.period_offset""".stripMargin,

    // e28: independent formulation — the basket self-join (the very plan
    // the operator avoids) over the same kept population, same integer
    // ppm floors incl. lift's documented composition.
    "e28_cooccurrence" ->
      """WITH items AS (
        |  SELECT DISTINCT
        |    CAST(user_id AS VARCHAR) || ':' ||
        |      CAST(CAST(ts AS DATE) AS VARCHAR) AS basket,
        |    event_type AS item
        |  FROM events),
        |kept AS (SELECT basket FROM items GROUP BY basket
        |         HAVING COUNT(*) <= 4),
        |ki AS (SELECT i.basket, i.item
        |       FROM items i JOIN kept k ON i.basket = k.basket),
        |tot AS (SELECT COUNT(*) AS total FROM kept),
        |ic AS (SELECT item, COUNT(*) AS n_i FROM ki GROUP BY item),
        |pc AS (
        |  SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS n_pair
        |  FROM ki a JOIN ki b ON a.basket = b.basket AND a.item < b.item
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT pc.item_a, pc.item_b, pc.n_pair, ca.n_i AS n_a,
        |  cb.n_i AS n_b,
        |  pc.n_pair * 1000000 // tot.total AS support_ppm,
        |  pc.n_pair * 1000000 // ca.n_i AS conf_a_to_b_ppm,
        |  pc.n_pair * 1000000 // cb.n_i AS conf_b_to_a_ppm,
        |  (pc.n_pair * 1000000 // ca.n_i) * tot.total // cb.n_i
        |    AS lift_ppm
        |FROM pc CROSS JOIN tot
        |  JOIN ic ca ON ca.item = pc.item_a
        |  JOIN ic cb ON cb.item = pc.item_b
        |ORDER BY pc.item_a, pc.item_b""".stripMargin,

    // e29: NTILE natively — the two-phase distributed rank must equal
    // the single-window form bit-for-bit (total order via the user_id
    // tie-break makes both partitioning-independent)
    "e29_rfm" ->
      """WITH u AS (
        |  SELECT user_id, MAX(ts) AS last_ts, COUNT(*) AS n_events,
        |    COALESCE(SUM(CAST(value AS DECIMAL(18,6))),
        |             CAST(0 AS DECIMAL(38,6))) AS mon
        |  FROM events GROUP BY user_id),
        |s AS (
        |  SELECT user_id,
        |    NTILE(5) OVER (ORDER BY last_ts, user_id) AS r_score,
        |    NTILE(5) OVER (ORDER BY n_events, user_id) AS f_score,
        |    NTILE(5) OVER (ORDER BY mon, user_id) AS m_score
        |  FROM u)
        |SELECT user_id, r_score, f_score, m_score,
        |  r_score * 100 + f_score * 10 + m_score AS rfm
        |FROM s ORDER BY user_id""".stripMargin
  )
}
