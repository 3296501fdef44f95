package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Optimization-round measurement harness (guide §1): runs named queries
  * once after a warmup and prints a PER-JOB breakdown — job id, task
  * count, executor cpu seconds, wall seconds, and the callsite — so cpu
  * can be attributed to the exact internal action (probe collects,
  * localCheckpoint materializations, broadcast builds) instead of
  * guessed from the query total. Usage:
  *
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.OptProbe g02_hits g01_pagerank"
  *
  * A Spark conf that `Tables.newSession` does not set reaches the probe as
  * a system property of the forked JVM, e.g.
  * `sbt 'set run / javaOptions += "-Dspark.sql.autoBroadcastJoinThreshold=-1"' "runMain graft.OptProbe q05_star_join"`.
  * A key the session builder sets (AQE, shuffle partitions, ...) is
  * overridden by the builder and needs a source change.
  */
object OptProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Tables.localCpus
    val spark = Tables.newSession("graft-optprobe", s"local[$cpus]", cpus)

    case class Job(var tasks: Int = 0, var cpuNs: Long = 0L,
                   var deserNs: Long = 0L, var recIn: Long = 0L,
                   var recOut: Long = 0L, var gcMs: Long = 0L,
                   var t0: Long = 0L, var t1: Long = 0L, var site: String = "")
    val jobs = mutable.LinkedHashMap[Int, Job]()
    val stageToJob = mutable.HashMap[Int, Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val j = jobs.getOrElseUpdate(e.jobId, Job())
        j.t0 = e.time
        j.site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
        e.stageIds.foreach(s => stageToJob(s) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.get(e.jobId).foreach(_.t1 = e.time)
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stageToJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach { j =>
          val scopes = e.stageInfo.rddInfos
            .map(r => r.scope.map(_.name).getOrElse(r.name))
            .distinct.mkString(",")
          j.site += s"[${e.stageInfo.stageId}: $scopes] "
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        stageToJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
          j.tasks += 1
          if (m != null) {
            j.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
            j.deserNs += m.executorDeserializeCpuTime
            j.gcMs += m.jvmGCTime
            j.recIn += m.shuffleReadMetrics.recordsRead + m.inputMetrics.recordsRead
            j.recOut += m.shuffleWriteMetrics.recordsWritten + m.outputMetrics.recordsWritten
          }
        }
      }
    })

    for (name <- args) {
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir).count() // warmup
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
      jobs.clear(); stageToJob.clear()
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
      val jobWall = jobs.values.map(j => (j.t1 - j.t0) / 1e3).sum
      println(s"== $name  wall=${f"$wall%.3f"}s jobs=${jobs.size} " +
        s"tasks=${jobs.values.map(_.tasks).sum} " +
        s"cpu=${f"${jobs.values.map(_.cpuNs).sum / 1e9}%.3f"}s " +
        f"jobwall=$jobWall%.3f")
      // driver-side gaps: time between consecutive jobs (planning, AQE
      // re-optimization, catalog ops, commit protocol) — the latency the
      // per-job rows cannot attribute
      val timeline = jobs.toSeq.sortBy(_._2.t0)
      timeline.sliding(2).foreach {
        case Seq((aid, a), (bid, b)) =>
          val gap = (b.t0 - a.t1) / 1e3
          if (gap > 0.05)
            println(f"  gap=$gap%6.3f between job=$aid and job=$bid " +
              s" next=${b.site.take(80)}")
        case _ =>
      }
      jobs.toSeq.sortBy(-_._2.cpuNs).take(40).foreach { case (id, j) =>
        println(f"  job=$id%4d tasks=${j.tasks}%4d cpu=${j.cpuNs / 1e9}%7.3f " +
          f"deser=${j.deserNs / 1e9}%6.3f gc=${j.gcMs / 1e3}%5.2f " +
          f"in=${j.recIn}%8d out=${j.recOut}%8d " +
          f"wall=${(j.t1 - j.t0) / 1e3}%7.3f  ${j.site.take(90)}")
      }
    }
    spark.stop()
  }
}
