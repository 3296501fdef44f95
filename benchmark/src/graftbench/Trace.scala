package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder for the traced run.
  *
  * Spans form a tree: an op span (one benchmark call site) is the parent
  * of the Spark jobs it launches, linked through the `graftbench.op` local
  * property the benchmark sets on its thread; a job is the parent of its
  * stages; tasks roll up into their stage. SQL executions come from a
  * [[QueryExecutionListener]] and are attributed to the op whose interval
  * holds their end (the benchmark runs one op at a time). Nothing is
  * written until [[dump]] at the end of the run.
  */
final class Recorder(cores: Int) extends SparkListener with QueryExecutionListener {
  import Recorder._

  private val ops = mutable.ArrayBuffer[OpSpan]()
  private val jobs = mutable.LinkedHashMap[Int, JobSpan]()
  private val stages = mutable.LinkedHashMap[Int, StageSpan]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val sqlExecs = mutable.ArrayBuffer[SqlExec]()
  private val blocks = mutable.ArrayBuffer[(Long, Int, Long)]() // (time, rdd, bytes)

  /** Runs `body` as op span `name`; jobs it launches become its children. */
  def op[T](spark: SparkSession, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val span = OpSpan(ops.size, name, System.currentTimeMillis(), System.nanoTime())
    sc.setLocalProperty(OpProperty, span.id.toString)
    try body
    finally {
      span.endNs = System.nanoTime()
      span.endMs = System.currentTimeMillis()
      sc.setLocalProperty(OpProperty, null)
      synchronized(ops += span)
    }
  }

  /** Cached partitions still stored after an op returned, the most seen. */
  private var maxLeftCached = 0
  def leftCached(n: Int): Unit = synchronized { maxLeftCached = math.max(maxLeftCached, n) }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val opId = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty)))
      .map(_.toInt).getOrElse(-1)
    jobs(e.jobId) = JobSpan(e.jobId, opId, e.time)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stages.getOrElseUpdate(i.stageId, StageSpan(i.stageId))
    s.job = stageJob.getOrElse(i.stageId, -1)
    s.start = i.submissionTime.getOrElse(0L)
    s.end = i.completionTime.getOrElse(0L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, StageSpan(e.stageId))
    s.durations += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.cpuNs += m.executorCpuTime
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.inBytes += m.inputMetrics.bytesRead
      s.inRecords += m.inputMetrics.recordsRead
      s.outBytes += m.outputMetrics.bytesWritten
      s.shWrite += m.shuffleWriteMetrics.bytesWritten
      s.shRead += m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.spill += m.diskBytesSpilled + m.memoryBytesSpilled
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD && info.storageLevel.isValid) synchronized {
      val rdd = info.blockId.asRDDId.get.rddId
      blocks += ((System.currentTimeMillis(), rdd, info.memSize + info.diskSize))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
  private def record(qe: QueryExecution): Unit = {
    val planMs = qe.tracker.phases.values.map(_.durationMs).sum
    // bucket pruning of every bucketed scan in the executed plan
    val buckets = SelectedBuckets.findAllMatchIn(qe.executedPlan.toString)
      .map(m => (m.group(1).toLong, m.group(2).toLong)).toSeq
    synchronized(sqlExecs += SqlExec(System.currentTimeMillis(), planMs,
      buckets.map(_._1).sum, buckets.map(_._2).sum))
  }

  private def sqlIn(o: OpSpan): Seq[SqlExec] =
    sqlExecs.filter(x => x.endMs >= o.startMs && x.endMs <= o.endMs + 50).toSeq

  /** Per-op layer rollup, averaged over the recorded ops whose kind
    * `kinds` accepts.
    */
  def layers(kinds: String => Boolean): Map[String, Double] = synchronized {
    val picked = ops.filter(o => kinds(o.name)).toSeq
    val n = math.max(1, picked.size).toDouble
    val opJobs = jobs.values.groupBy(_.op)
    val jobStages = stages.values.groupBy(_.job)
    var gapS, schedS, busyCoreS, jobUnionS, writeS, planS = 0.0
    var nJobs, nStages, nTasks, nSql, nExchange, nSplits, nBarrier = 0L
    var cachedBytes = 0L
    for (o <- picked) {
      val js = opJobs.getOrElse(o.id, Nil).toSeq.filter(_.end > 0)
      val union = unionMs(js.map(j => (j.start, j.end)))
      gapS += math.max(0.0, o.wallS - union / 1e3)
      jobUnionS += union / 1e3
      nJobs += js.size
      for (j <- js) {
        val ss = jobStages.getOrElse(j.id, Nil).toSeq.filter(_.end > 0)
        schedS += math.max(0L, (j.end - j.start) - unionMs(ss.map(s => (s.start, s.end)))) / 1e3
        nStages += ss.size
        ss.foreach { s =>
          nTasks += s.tasks
          busyCoreS += s.durations.sum / 1e3
          if (s.shWrite > 0) nExchange += 1
          if (s.inBytes > 0) nSplits += s.tasks
        }
        if (ss.exists(_.outBytes > 0)) writeS += (j.end - j.start) / 1e3
      }
      val inOp = sqlIn(o)
      nSql += inOp.size
      planS += inOp.map(_.planMs).sum / 1e3
      val bs = blocks.filter(b => b._1 >= o.startMs && b._1 <= o.endMs + 50)
      nBarrier += bs.map(_._2).distinct.size
      cachedBytes += bs.map(_._3).sum
    }
    val pickedIds = picked.map(_.id).toSet
    val st = stages.values.filter(s => jobs.get(s.job).exists(j => pickedIds(j.op)))
    def sum(f: StageSpan => Double) = st.map(f).sum
    val longest = st.toSeq.sortBy(s => -(s.end - s.start)).headOption
    val skew = longest.map { s =>
      val d = s.durations.sorted
      if (d.isEmpty || d(d.size / 2) <= 0) 1.0 else d.last.toDouble / d(d.size / 2)
    }.getOrElse(1.0)
    Map(
      "exec.cpu_s" -> sum(_.cpuNs / 1e9) / n,
      "exec.run_s" -> sum(_.runMs / 1e3) / n,
      "exec.gc_s" -> sum(_.gcMs / 1e3) / n,
      "exec.busy_frac" -> (if (jobUnionS > 0) busyCoreS / (cores * jobUnionS) else 0.0),
      "exec.task_skew" -> skew,
      "exchange.count" -> nExchange / n,
      "exchange.write_mb" -> sum(_.shWrite / 1e6) / n,
      "exchange.read_mb" -> sum(_.shRead / 1e6) / n,
      "exchange.fetch_wait_s" -> sum(_.fetchWaitMs / 1e3) / n,
      "exchange.spill_mb" -> sum(_.spill / 1e6) / n,
      "barrier.count" -> nBarrier / n,
      "barrier.cached_mb" -> cachedBytes / 1e6 / n,
      "barrier.left_cached" -> maxLeftCached.toDouble,
      "driver.jobs" -> nJobs / n,
      "driver.stages" -> nStages / n,
      "driver.tasks" -> nTasks / n,
      "driver.sql_execs" -> nSql / n,
      "driver.plan_s" -> planS / n,
      "driver.gap_s" -> gapS / n,
      "driver.sched_s" -> schedS / n,
      "sink.write_s" -> writeS / n,
      "sink.output_mb" -> sum(_.outBytes / 1e6) / n,
      "sources.input_mb" -> sum(_.inBytes / 1e6) / n,
      "sources.input_records" -> sum(_.inRecords.toDouble) / n,
      "sources.splits" -> nSplits / n)
  }

  /** Input bytes read by the jobs of each op with the given name. */
  def inputBytesPerOp(name: String): Seq[Long] = synchronized {
    val opJobs = jobs.values.groupBy(_.op)
    val jobStages = stages.values.groupBy(_.job)
    ops.filter(_.name == name).map { o =>
      opJobs.getOrElse(o.id, Nil).flatMap(j => jobStages.getOrElse(j.id, Nil))
        .map(_.inBytes).sum
    }.toSeq
  }

  /** (selected, total) buckets over the bucketed scans of ops named `name`. */
  def bucketsRead(name: String): (Long, Long) = synchronized {
    val xs = ops.filter(_.name == name).flatMap(sqlIn)
    (xs.map(_.selBuckets).sum, xs.map(_.totalBuckets).sum)
  }

  /** Writes every span as one JSON line, parents before children. */
  def dump(path: java.nio.file.Path): Unit = synchronized {
    val sb = new StringBuilder
    for (o <- ops)
      sb ++= s"""{"kind":"op","id":${o.id},"name":"${o.name}","start_ms":${o.startMs},"end_ms":${o.endMs}}""" + "\n"
    for (j <- jobs.values)
      sb ++= s"""{"kind":"job","id":${j.id},"parent":${j.op},"start_ms":${j.start},"end_ms":${j.end}}""" + "\n"
    for (s <- stages.values)
      sb ++= s"""{"kind":"stage","id":${s.id},"parent":${s.job},"start_ms":${s.start},"end_ms":${s.end},""" +
        s""""tasks":${s.tasks},"cpu_ns":${s.cpuNs},"in_bytes":${s.inBytes},"out_bytes":${s.outBytes},""" +
        s""""shuffle_write":${s.shWrite},"shuffle_read":${s.shRead}}""" + "\n"
    for (q <- sqlExecs)
      sb ++= s"""{"kind":"sql","end_ms":${q.endMs},"plan_ms":${q.planMs},""" +
        s""""buckets_selected":${q.selBuckets},"buckets_total":${q.totalBuckets}}""" + "\n"
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager.unregister(this)
  }
}

object Recorder {
  val OpProperty = "graftbench.op"

  final case class OpSpan(id: Int, name: String, startMs: Long, startNs: Long) {
    var endMs = 0L
    var endNs = 0L
    def wallS: Double = (endNs - startNs) / 1e9
  }
  final case class JobSpan(id: Int, op: Int, start: Long) { var end = 0L }
  final case class StageSpan(id: Int) {
    var job = -1
    var start, end = 0L
    var runMs, gcMs, fetchWaitMs = 0L
    var cpuNs, inBytes, inRecords, outBytes, shWrite, shRead, spill = 0L
    val durations = mutable.ArrayBuffer[Long]()
    def tasks: Int = durations.size
  }
  final case class SqlExec(endMs: Long, planMs: Long, selBuckets: Long, totalBuckets: Long)
  private val SelectedBuckets = "SelectedBucketsCount: (\\d+) out of (\\d+)".r

  /** Total length of the union of closed intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    for ((s, e) <- iv.sortBy(_._1)) {
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }
}
