package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers for the driver-generated parquet test tables (see TESTDATA.md).
  *
  * Every operator in [[SparkEntry.queries]] receives `(spark, sfDir)` and
  * loads its inputs here, so the same code runs at any scale factor — and,
  * pointed at a real warehouse path, at cluster scale. Parquet scans get
  * column pruning + predicate pushdown from Catalyst for free.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts has been generated both as parquet TIMESTAMP(NANOS)
      // (which Spark has no type for — read the raw int64 nanos and
      // truncate to micros, exactly what DuckDB/pyarrow do for positive
      // epochs) and as plain TIMESTAMP(MICROS). Branch on what the scan
      // actually produced so both generations load identically.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      import org.apache.spark.sql.functions._
      val raw = spark.read.parquet(s"$dir/$name.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _ =>
          // MICROS without timezone reads as TIMESTAMP_NTZ; normalize to
          // the session-TZ (UTC) TIMESTAMP the nanos path produced so
          // epoch arithmetic (cast to double, unix_micros) keeps working
          raw.withColumn("ts", col("ts").cast("timestamp"))
      }
    } else spark.read.parquet(s"$dir/$name.parquet")

  /** Cores for a `local[N]` session: `SPARK_GRAFT_CPUS` when the
    * deployment sets it, else the cores this JVM may use.
    */
  def localCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Common builder knobs for a scale-ready session. Local tests use
    * local[N]; on a cluster the same settings (AQE, skew-join) carry over.
    */
  def newSession(appName: String, master: String, shufflePartitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .appName(appName)
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // Shuffle WRITER selection (optimization round 18, guide §2.2): the
      // default bypass-merge writer creates R temp files per map task
      // (M×R file creates/closes/concats per exchange) whenever R ≤ 200.
      // Measured on the iterative graph tier: ~130 ms of executor cpu per
      // map task at R=32 on skeleton-sized data — 3× the whole query's
      // real work (g02_hits 32.4 → 8.3 cpu-s with the sort writer).
      // Production-scale SQL shuffles (R > 200) ALWAYS take the
      // serialized sort writer (UnsafeShuffleWriter, one file per map
      // task); threshold 1 simply aligns small-R shuffles with that same
      // single-file path — nothing here is tuned to the local core count.
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Subset-key co-partitioning for joins (optimization round 19,
      // guide §2.4): by default the planner only skips a join's
      // exchanges when the children are hash-partitioned on the FULL
      // join key set; with this off, a child partitioned on a SUBSET of
      // the keys (e.g. postings laid out by doc id joining on
      // (id, pos, term)) is accepted, which is what makes the
      // doc-partitioned serving layouts exchange-free. The default
      // guards against skewed subset keys; this engine's join keys are
      // either unskewed by construction (doc ids) or explicitly salted
      // (Skew.saltedTopN/saltedJoin), and AQE skew-join remains on.
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      // let AQE re-plan (skew splits, broadcast conversion) inside cached
      // plans too — the default false pins a cached pipeline stage to its
      // static plan, which is exactly where a skewed dedup join needs the
      // runtime split
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // runtime bloom-filter pushdown: a selective dim-side filter becomes
      // a bloom probe on the fact scan, skipping row groups before the
      // join — a pure win for the star joins at warehouse scale
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
