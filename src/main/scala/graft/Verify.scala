package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Key oracle trained-state exports by this run's outdir so dumping two
    // scale factors before one compare pass can't clobber each other's
    // state (and /tmp isn't shared with other local users). The queries
    // write the exports under it when they run, and oracleSql names it in
    // the reads it renders below.
    sys.props("graft.oracle.exportRoot") =
      new java.io.File(outDir, "oracle_export").getAbsolutePath
    // optional comma-separated filter for targeted re-runs (e.g. gating one
    // new query at sf1 without regenerating 70 dumps); the oracle gate
    // sets no filter and dumps everything
    val selected = SparkEntry.selectQueries(sys.env.get("SPARK_GRAFT_ONLY"))
    val cpus = Tables.localCpus
    val spark = Tables.newSession("graft-verify", s"local[$cpus]", cpus)
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
