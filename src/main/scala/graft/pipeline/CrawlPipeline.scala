package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.text.{Html, Robots, TextOps}

/** Crawl-side compositions — the steps between the HTML tier and the
  * fetcher that every large-scale crawl pipeline runs but none of the
  * standalone operators owns end-to-end.
  */
object CrawlPipeline {

  /** Next-fetch FRONTIER from a batch of fetched pages — the composed
    * step between the crawl graph and the fetcher: outlinks in document
    * order ([[Html.extractLinks]]) → resolved against their page URL
    * ([[TextOps.resolveUrl]]) → collapsed to canonical URL identity
    * ([[TextOps.normalizeUrl]] — http/https, ±www, tracking params and
    * fragments are one frontier entry) → minus the batch's OWN pages
    * (links back into what was just fetched) → optionally minus every
    * URL any previous run already scheduled (the cross-run content-hash
    * registry, keyed on the normalized URL — the L27 machinery verbatim,
    * appends under the same delta-file failure contract) → optionally
    * gated by the per-host robots registry (RFC 9309 [[Robots]] rules for
    * `agent`; hosts without captures allow) → optionally capped per host
    * ([[graft.operators.Skew.saltedTopN]] — a hub host's million
    * outlinks rank in salted lanes, never one task).
    *
    * Returns one row per frontier URL: (`url`, `host`, `n_refs`,
    * `crawl_delay`) — `n_refs` is the batch-wide citation count (a
    * prioritization signal: rank by it or feed PageRank), `crawl_delay`
    * the politeness evidence from the host's robots capture (null
    * without one). Deterministic: no RNG anywhere; the per-host cap
    * keeps the lexicographically smallest URLs.
    *
    * Scale shape: extraction/resolution/normalization are scan-local
    * column chains (the t24/t28/t20 plan guards); the candidate collapse
    * is one partial-aggregated groupBy on the unskewed URL; the self and
    * registry drops are anti-joins keyed on the URL (hash) — the
    * ever-growing registry side stays bucketed and unshuffled; the
    * robots frame is orders smaller than the link set (AQE broadcasts
    * it); the host cap is the salted two-phase top-N.
    */
  def frontier(pages: DataFrame, urlCol: String, htmlCol: String,
               robotsByHost: Option[DataFrame] = None,
               seenRegistryTable: Option[String] = None,
               maxPerHost: Int = 0,
               agent: String = "*",
               updateRegistry: Boolean = true): DataFrame = {
    val resolved = pages
      .select(col(urlCol).as("__base"),
        explode(Html.extractLinks(col(htmlCol))).as("__href"))
      .withColumn("url",
        TextOps.normalizeUrl(TextOps.resolveUrl(col("__base"), col("__href"))))
      .filter(col("url").isNotNull && col("url") =!= "")
    val self = pages
      .select(TextOps.normalizeUrl(col(urlCol)).as("url")).distinct()
    val cand = resolved.groupBy(col("url"))
      .agg(count(lit(1)).as("n_refs"))
      .join(self, Seq("url"), "left_anti")
    val fresh = seenRegistryTable match {
      case Some(t) =>
        graft.dedup.Dedup.dedupAgainstRegistry(cand, "url", "url", t,
          update = updateRegistry)
      case None => cand
    }
    val hosted = fresh.withColumn("host", Robots.urlHost(col("url")))
    val gated = robotsByHost match {
      case Some(r) =>
        val pol = r.select(lower(col("host")).as("host"),
          Robots.crawlPolicy(col("robots_txt"), agent)
            .getField("crawl_delay").as("crawl_delay"))
        Robots.filterAllowed(hosted, "url", r, agent)
          .join(pol, Seq("host"), "left")
      case None =>
        hosted.withColumn("crawl_delay", lit(null).cast("double"))
    }
    val out = gated.select(col("url"), col("host"), col("n_refs"),
      col("crawl_delay"))
    if (maxPerHost > 0)
      graft.operators.Skew.saltedTopN(out, Seq(col("host")), col("url"),
        Seq(col("url")), maxPerHost)
    else out
  }

  /** Create the CITATION registry behind [[frontierPrioritized]]'s
    * cross-run priority: a bucketed (content_hash, n_refs) table, one row
    * appended per (run, cited URL) — accumulated citation totals are a
    * co-located read-side aggregation over the generations (the
    * append-only grow-don't-retrain contract; [[graft.sources.Warehouse
    * .compact]] covers file fragmentation).
    */
  def createCitationRegistry(spark: org.apache.spark.sql.SparkSession,
                             table: String, buckets: Int = 32): Unit = {
    import spark.implicits._
    graft.sources.Warehouse.writeBucketed(
      Seq.empty[(String, Long)].toDF("content_hash", "n_refs"),
      table, "content_hash", buckets)
  }

  /** [[frontier]] grown into a cross-run PRIORITIZED fetch schedule — the
    * composition a real crawler runs: candidates carry citation counts
    * ACCUMULATED across runs (a URL capped out of run 1's lanes
    * re-surfaces in run 2 with its full citation history), optionally
    * weighted by link-graph authority, and each host's admitted URLs are
    * emitted as a deterministic fetch LANE that respects the host's
    * `crawl_delay`.
    *
    * Stages on top of [[frontier]]'s chain:
    *  - CITATIONS (`citationRegistryTable`): this run's per-URL counts
    *    append to the registry; `n_refs_total` = this batch + the sum of
    *    prior generations (both sides keyed on the url hash — the
    *    registry read is a co-located aggregation, never re-shuffled).
    *  - SEEN (`seenRegistryTable`): URLs already FETCHED drop. Unlike
    *    [[frontier]] (which registers every fresh candidate), only the
    *    EMITTED schedule registers — a URL that lost its lane slot or
    *    was delay-gated stays pending and keeps accumulating citations,
    *    the semantics a politeness-capped crawler actually needs.
    *  - PRIORITY: (n_refs_total desc, page-rank desc, url) — total and
    *    RNG-free; `pageRank` is an optional (url, rank) frame (feed
    *    [[graft.operators.PageRank]] output; absent ranks read 0).
    *  - LANES: per-host admission via the salted top-N under the
    *    priority order, then `fetch_seq` (1-based position in the host's
    *    lane — a per-host rank over the ≤ maxPerHost survivors, bounded
    *    by construction) and `not_before_s` = (fetch_seq − 1) ×
    *    crawl_delay — the earliest polite fetch offset within the
    *    host's lane. `crawl_delay` comes from `crawlDelayByHost`
    *    ((host, crawl_delay) — e.g. distilled from robots captures) or
    *    the robots gate's own policy evidence; absent delays schedule
    *    immediately.
    *
    * EAGER: the returned schedule is materialized via `materialize`
    * (default Local, i.e. the former `localCheckpoint`; Reliable spills
    * parquet under its dir so the schedule survives executor loss on
    * preemptible fleets; Off upgrades to Local — see
    * [[Materialize.cutEager]]) BEFORE the registries are appended, so
    * the one plan executes once, the appends cannot invalidate the
    * returned rows, and a long-lived driver holds no registry-dependent
    * lineage (the c05 eager-append precedent).
    *
    * Returns (url, host, n_refs, n_refs_total, crawl_delay, fetch_seq,
    * not_before_s).
    */
  def frontierPrioritized(pages: DataFrame, urlCol: String, htmlCol: String,
                          citationRegistryTable: Option[String] = None,
                          pageRank: Option[DataFrame] = None,
                          crawlDelayByHost: Option[DataFrame] = None,
                          robotsByHost: Option[DataFrame] = None,
                          seenRegistryTable: Option[String] = None,
                          maxPerHost: Int = 10,
                          agent: String = "*",
                          updateRegistries: Boolean = true,
                          materialize: Materialize = Materialize.Local): DataFrame = {
    require(maxPerHost > 0,
      s"frontierPrioritized schedules per-host lanes: maxPerHost=$maxPerHost")
    val spark = pages.sparkSession
    val resolved = pages
      .select(col(urlCol).as("__base"),
        explode(Html.extractLinks(col(htmlCol))).as("__href"))
      .withColumn("url",
        TextOps.normalizeUrl(TextOps.resolveUrl(col("__base"), col("__href"))))
      .filter(col("url").isNotNull && col("url") =!= "")
    val self = pages
      .select(TextOps.normalizeUrl(col(urlCol)).as("url")).distinct()
    val cand0 = resolved.groupBy(col("url"))
      .agg(count(lit(1)).as("n_refs"))
      .join(self, Seq("url"), "left_anti")
      .withColumn("content_hash", sha2(col("url").cast("binary"), 256))
    // when the citation registry will be appended below, the candidate
    // frame is consumed TWICE (the schedule plan and the append) — and
    // its upstream is the batch's heaviest stage (the whole extract →
    // resolve → normalize scan plus the URL collapse). Materialize it
    // once under the caller's strategy instead of re-running that scan
    // per consumer (optimization round 19, guide §1.2 — measured as two
    // identical 0.27 cpu-s single-task extraction jobs per run at sf0.1).
    val cand =
      if (updateRegistries && citationRegistryTable.isDefined)
        materialize.cut(cand0, "frontier-cand").df
      else cand0
    val withTotal = citationRegistryTable match {
      case Some(t) =>
        val prior = spark.table(t).groupBy(col("content_hash"))
          .agg(sum(col("n_refs")).as("__prior"))
        cand.join(prior, Seq("content_hash"), "left")
          .withColumn("n_refs_total",
            col("n_refs") + coalesce(col("__prior"), lit(0L)))
          .drop("__prior")
      case None => cand.withColumn("n_refs_total", col("n_refs"))
    }
    val unseen = seenRegistryTable match {
      case Some(t) =>
        withTotal.join(spark.table(t).select(col("content_hash")),
          Seq("content_hash"), "left_anti")
      case None => withTotal
    }
    val hosted = unseen.withColumn("host", Robots.urlHost(col("url")))
    val gated = robotsByHost match {
      case Some(r) =>
        val pol = r.select(lower(col("host")).as("host"),
          Robots.crawlPolicy(col("robots_txt"), agent)
            .getField("crawl_delay").as("__rdelay"))
        Robots.filterAllowed(hosted, "url", r, agent)
          .join(pol, Seq("host"), "left")
      case None => hosted.withColumn("__rdelay", lit(null).cast("double"))
    }
    val delayed = crawlDelayByHost match {
      case Some(d) =>
        gated.join(d.select(lower(col("host")).as("host"),
            col("crawl_delay").as("__hdelay")), Seq("host"), "left")
          .withColumn("crawl_delay", coalesce(col("__hdelay"), col("__rdelay")))
          .drop("__hdelay", "__rdelay")
      case None => gated.withColumnRenamed("__rdelay", "crawl_delay")
    }
    val ranked = pageRank match {
      case Some(pr) =>
        delayed.join(pr.select(col("url"), col("rank").as("__rank")),
          Seq("url"), "left")
          .withColumn("__rank", coalesce(col("__rank"), lit(0.0)))
      case None => delayed.withColumn("__rank", lit(0.0))
    }
    val ordering = Seq(col("n_refs_total").desc, col("__rank").desc, col("url"))
    val capped = graft.operators.Skew.saltedTopN(ranked, Seq(col("host")),
      col("url"), ordering, maxPerHost)
    import org.apache.spark.sql.expressions.Window
    val lane = Window.partitionBy(col("host"))
      .orderBy(ordering: _*) // input bounded: ≤ maxPerHost rows per host
    val sched = capped
      .withColumn("fetch_seq", row_number().over(lane))
      .withColumn("not_before_s",
        (col("fetch_seq") - 1) * coalesce(col("crawl_delay"), lit(0.0)))
      .select(col("url"), col("host"), col("n_refs"), col("n_refs_total"),
        col("crawl_delay"), col("fetch_seq"), col("not_before_s"),
        col("content_hash"))
    val schedSnap = materialize.cutEager(sched, "frontier-schedule").df
    if (updateRegistries) {
      // the two appends touch DIFFERENT tables and read only already-
      // materialized snapshots (cand, schedSnap) — independent jobs, so
      // they are submitted concurrently and the tail of one back-fills
      // the other's idle executors (guide §2.6). Both still run strictly
      // AFTER the schedule snapshot exists, so no plan can observe its
      // own append. Failure contract unchanged in kind: the appends were
      // never atomic as a pair — on a failure either registry may hold
      // this batch (rerun-the-batch recovery, as before).
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val legs: Seq[Future[Unit]] =
        citationRegistryTable.map(t => Future {
          graft.sources.Warehouse.appendBucketedWithDelta(
            cand.select(col("content_hash"), col("n_refs")), t, "content_hash")
          ()
        }).toSeq ++
        seenRegistryTable.map(t => Future {
          graft.sources.Warehouse.appendBucketedWithDelta(
            schedSnap.select(col("content_hash")), t, "content_hash")
          ()
        }).toSeq
      legs.foreach(Await.result(_, Duration.Inf))
    }
    schedSnap.drop("content_hash")
  }

  /** [[frontier]]'s incremental twin for a live crawl intake: each
    * micro-batch's outlinks run the same row-local
    * extract→resolve→normalize chain, then a URL emits the FIRST time it
    * is sighted within the watermark horizon
    * (`dropDuplicatesWithinWatermark` — 32 bytes of state per distinct
    * frontier URL in the horizon), optionally minus the persisted seen
    * registry (stream-STATIC anti-join on the bucketed table — probed,
    * never stream-mutated: registering fetched URLs stays the batch
    * append, the L16g index convention), optionally gated by the static
    * robots frame with `crawl_delay` evidence, optionally admission-
    * capped per host over the stream's life
    * ([[graft.streaming.EventStreams.quotaPerSource]] — one long of
    * state per host).
    *
    * Differences from the batch twin, stated honestly: there is no
    * batch-wide `n_refs` (a stream can't see future citations — rank
    * frontier priority downstream, e.g. per-window counts or PageRank
    * over accumulated edges), and "minus the batch's own pages"
    * generalizes to the registry: a stream cannot order same-batch
    * self-sightings deterministically, so register fetched URLs in the
    * seen registry and only same-page self links drop row-locally.
    *
    * Returns (`tsCol`, url, host, crawl_delay) in append mode.
    */
  def frontierStream(pages: DataFrame, urlCol: String, htmlCol: String,
                     tsCol: String, watermark: String = "1 hour",
                     robotsByHost: Option[DataFrame] = None,
                     seenRegistryTable: Option[String] = None,
                     maxPerHost: Int = 0,
                     agent: String = "*"): DataFrame = {
    val spark = pages.sparkSession
    val links = pages
      .select(col(tsCol), col(urlCol).as("__base"),
        explode(Html.extractLinks(col(htmlCol))).as("__href"))
      .withColumn("url",
        TextOps.normalizeUrl(TextOps.resolveUrl(col("__base"), col("__href"))))
      .filter(col("url").isNotNull && col("url") =!= "" &&
        // same-page self links drop row-locally (see scaladoc)
        col("url") =!= TextOps.normalizeUrl(col("__base")))
      .select(col(tsCol), col("url"))
    val unseen = seenRegistryTable match {
      case Some(t) =>
        links.withColumn("content_hash", sha2(col("url").cast("binary"), 256))
          .join(spark.table(t), Seq("content_hash"), "left_anti")
          .drop("content_hash")
      case None => links
    }
    val first = unseen
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("url")
      .withColumn("host", Robots.urlHost(col("url")))
    val gated = robotsByHost match {
      case Some(r) =>
        val pol = r.select(lower(col("host")).as("host"),
          Robots.crawlPolicy(col("robots_txt"), agent)
            .getField("crawl_delay").as("crawl_delay"))
        Robots.filterAllowed(first, "url", r, agent)
          .join(pol, Seq("host"), "left")
      case None =>
        first.withColumn("crawl_delay", lit(null).cast("double"))
    }
    val out = gated.select(col(tsCol), col("url"), col("host"),
      col("crawl_delay"))
    if (maxPerHost > 0)
      graft.streaming.EventStreams.quotaPerSource(
        out.withColumn("__adm", xxhash64(col("url"))),
        "host", "__adm", maxPerHost).drop("__adm")
    else out
  }
}
