package graft

import java.nio.file.{Files, Paths}

/** Per-query plan snapshots for the optimization round: writes
  * `plans/<round>/<query>_<tag>.txt` with the formatted physical plan
  * plus every pre-barrier plan recorded by [[graft.plans.PlanTap]]
  * (materialization barriers otherwise hide the interesting stages, the
  * rationale of PlanDump, since deleted). Usage:
  *
  *   sbt "runMain graft.PlanSnap r18 before g02_hits q24_weighted_quantile"
  *
  * Data dir from SPARK_GRAFT_SF_DIR (default the sf0.01 test tables).
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanSnap <round> <tag> <query>...")
    val (round, tag, names) = (args(0), args(1), args.drop(2).toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Tables.newSession("plansnap", "local[4]", 4)
    Files.createDirectories(Paths.get(s"plans/$round"))
    graft.plans.PlanTap.enable()
    for (n <- names) {
      graft.plans.PlanTap.drain()
      val df = SparkEntry.queries(n)(spark, sfDir)
      val sb = new StringBuilder
      sb.append(s"# $n ($tag) — explain(formatted) at sf0.01\n\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      val barriers = graft.plans.PlanTap.drain()
      for ((t, plan) <- barriers.take(8))
        sb.append(s"\n## pre-barrier — $t\n\n$plan\n")
      if (barriers.size > 8)
        sb.append(s"\n(+${barriers.size - 8} more barrier cuts elided)\n")
      Files.writeString(Paths.get(s"plans/$round/${n}_$tag.txt"),
        sb.toString.replace("\u0000", "\\u0000"))
      println(s"wrote plans/$round/${n}_$tag.txt")
    }
    graft.plans.PlanTap.disable()
    spark.stop()
  }
}
