package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line arguments, as passed by `run.py`. */
final case class Args(
    workload: String,
    input: Path,
    work: Path,
    state: Path,
    fixtures: Path,
    seconds: Double,
    trace: Boolean,
    cpus: Int,
    setups: Int,
    corrupt: Boolean,
    spans: Path)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def p(k: String) = Paths.get(m(k)).toAbsolutePath
    Args(m("workload"), p("input"), p("work"), p("state"), p("fixtures"),
      m("seconds").toDouble, m("trace") == "1", m("cpus").toInt, m("setups").toInt,
      m.get("corrupt").contains("1"), p("spans"))
  }
}

/** One timed operation: wall and JVM-process CPU, the part of the wall
  * spent in the call that commits output (when the op has one) and the
  * number of files that call wrote.
  */
final case class Sample(kind: String, wallS: Double, cpuS: Double, commitS: Double = 0.0,
                        files: Int = 0)

/** State shared by the workloads: the session, op accounting, the
  * optional span recorder and the metrics being reported.
  */
final class Harness(val a: Args) {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuS: Double = os.getProcessCpuTime / 1e9

  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer[String]()
  /** Names of the checks that failed, op numbers dropped. */
  val failedChecks = mutable.LinkedHashSet[String]()
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val detail = mutable.LinkedHashMap[String, Any]()
  var recorder: Option[Recorder] = None // attached while tracing
  var traced: Option[Recorder] = None // the traced half's spans, once done

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Counts one operation; a throw or a failed check marks it failed. */
  def attempt[T](name: String)(body: => T)(check: T => Option[String]): Option[T] = {
    attempted += 1
    val res = try Right(body) catch { case e: Throwable => Left(s"$name threw: $e") }
    val err = res.fold(Some(_), v => check(v))
    err.foreach { msg =>
      failed += 1
      failedChecks += name.replaceAll(" \\d+$", "")
      if (failures.size < 20) failures += msg
    }
    res.toOption.filter(_ => err.isEmpty)
  }

  /** Wraps `body` in an op span when tracing. */
  def span[T](spark: SparkSession, name: String)(body: => T): T =
    recorder match {
      case Some(r) => r.op(spark, name)(body)
      case None => body
    }

  /** Times one op; `commit` marks where the output-committing call starts. */
  def timed(spark: SparkSession, kind: String)(body: (() => Unit) => Unit): Sample = {
    var commitAt = 0L
    val c0 = cpuS
    val t0 = System.nanoTime()
    span(spark, kind)(body(() => commitAt = System.nanoTime()))
    val t1 = System.nanoTime()
    val s = Sample(kind, (t1 - t0) / 1e9, cpuS - c0,
      if (commitAt > 0) (t1 - commitAt) / 1e9 else 0.0)
    recorder.foreach { r =>
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
      r.leftCached(spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions).sum)
    }
    s
  }

  /** The shipped session: `Tables.newSession` at local[N], N shuffle
    * partitions, warehouse and scratch under this run's work dir.
    */
  def newSession(): SparkSession = {
    System.setProperty("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
    System.setProperty("spark.local.dir", a.work.resolve("spark-local").toString)
    graft.Tables.newSession("graftbench", s"local[${a.cpus}]", a.cpus)
  }

  /** Sets up `a.setups` times (each a fresh session plus `warm`) and keeps
    * the last session. Returns it with each set-up's seconds.
    */
  def setup(warm: SparkSession => Unit): (SparkSession, Seq[Double]) = {
    val times = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (i <- 1 to a.setups) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = newSession()
      warm(spark)
      times += (System.nanoTime() - t0) / 1e9
    }
    (spark, times.toSeq)
  }

  /** Runs ops until their summed wall time reaches `seconds` (and at
    * least `minOps` ran). `op(i)` returns the sample to record, if any.
    */
  def loop(seconds: Double, minOps: Int)(op: Int => Option[Sample]): Seq[Sample] = {
    val out = mutable.ArrayBuffer[Sample]()
    var spent = 0.0
    var i = 0
    while (spent < seconds || i < minOps) {
      op(i).foreach { s => out += s; spent += s.wallS }
      if (out.isEmpty && i >= minOps + 2) return out.toSeq // every op failed
      i += 1
    }
    out.toSeq
  }

  /** The end-to-end metrics every workload reports. */
  def endToEnd(primary: Seq[Sample], commits: Seq[Sample], mbPerOp: Double,
               setups: Seq[Double]): Unit = {
    val wall = primary.map(_.wallS)
    metric("mb_per_s", if (wall.isEmpty) 0.0 else mbPerOp / Stats.median(wall), "MB/s")
    metric("cpu_s", Stats.median(primary.map(_.cpuS)), "s")
    metric("query_p50_ms", Stats.median(wall) * 1e3, "ms")
    metric("query_p90_ms", Stats.quantile(wall, 0.9) * 1e3, "ms")
    metric("append_p50_ms", Stats.median(commits.map(_.commitS)) * 1e3, "ms")
    metric("setup_s", Stats.median(setups), "s")
    detail("query_samples") = wall.size
    detail("query_walls_s") = wall
    detail("query_cpus_s") = primary.map(_.cpuS)
    detail("query_samples_beyond_p90") = wall.count(_ > Stats.quantile(wall, 0.9))
    detail("append_samples") = commits.size
    detail("setup_samples_s") = setups
  }

  def finish(): Unit = {
    metric("peak_rss_mb", Host.peakRssMb(), "MB")
    metric("error_rate", failed.toDouble / math.max(1, attempted), "ratio")
    detail("local") = s"local[${a.cpus}]"
    detail("jvm_max_heap_mb") = Runtime.getRuntime.maxMemory / 1e6
    detail("jvm_processors") = Runtime.getRuntime.availableProcessors
    detail("failures") = failures.toSeq
    detail("failed_checks") = failedChecks.toSeq
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

object Host {
  /** VmHWM of this JVM, in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble * 1024 / 1e6
  }
}

object FileUtil {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally s.close()
    }

  def regularFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try {
        val b = mutable.ArrayBuffer[Path]()
        s.filter(Files.isRegularFile(_)).forEach(f => b += f)
        b.toSeq
      } finally s.close()
    }

  /** Text output parts in name order (hidden and marker files skipped). */
  def parts(dir: Path): Seq[Path] =
    regularFiles(dir).filter { f =>
      val n = f.getFileName.toString
      !n.startsWith("_") && !n.startsWith(".")
    }.sortBy(_.getFileName.toString)

  def sha256(chunks: Iterator[Array[Byte]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    chunks.foreach(md.update)
    md.digest().map("%02x".format(_)).mkString
  }
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def read(p: Path): com.fasterxml.jackson.databind.JsonNode = mapper.readTree(p.toFile)

  def write(v: Any): String = mapper.writeValueAsString(v)
}

object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    Files.createDirectories(a.work)
    Files.createDirectories(a.state)
    val h = new Harness(a)
    val workload: Harness => Unit = a.workload match {
      case "wiki_extract" => WikiExtract.run
      case "curate_corpus" => CurateCorpus.run
      case "serve_mixed" => ServeMixed.run
      case other => sys.error(s"unknown workload: $other")
    }
    workload(h)
    h.finish()
    val out = mutable.LinkedHashMap[String, Any](
      "attempted" -> h.attempted, "failed" -> h.failed,
      "metrics" -> h.metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "detail" -> h.detail)
    println("GRAFTBENCH_RESULT " + Json.write(out))
    SparkSession.getActiveSession.foreach(_.stop())
  }
}
