package graft.wiki

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{col, sum}
import graft.Tables

/** CLI mirroring the reference's interface (WikiExtractor.py:683-698):
  *
  * {{{
  *   runMain graft.wiki.WikiMain --infn DUMP [--out DIR] [--incubator LANG]
  *     [--vitalfn FILE] [--compress] [--keep-links] [--structure]
  *     [--expand-templates | --expand-templates=best-effort]
  * }}}
  *
  * Reads a MediaWiki dump (plain/gz/bz2), extracts and cleans articles, and
  * writes sentence-format text (bz2-compressed with --compress), exactly
  * like `python WikiExtractor.py --infn dump.xml [--compress] [--incubator
  * enm]` — but distributed: the same command line works on a 100 TB dump on
  * a cluster.
  */
object WikiMain {

  /** Extracts the dump at `infn` into `out` and returns the number of lines
    * written, summed from the documents' own line counts as the write runs
    * (an observed metric), so the output is never read back.
    */
  def writeCounted(spark: SparkSession, infn: String, out: String,
                   cfg: WikiPipeline.Config, compress: Boolean): Long = {
    val written = Observation("wiki-lines")
    val docs = WikiPipeline.documents(spark, infn, cfg)
      .observe(written, sum(col("lines")).as("lines"))
    WikiPipeline.write(docs.toDF(), out, compress = compress)
    written.get("lines") match {
      case n: Long => n
      case _ => 0L // no documents: the sum is null
    }
  }

  def main(args: Array[String]): Unit = {
    var infn = ""
    var out = "wiki_out"
    var incubator: Option[String] = None
    var vitalfn: Option[String] = None
    var compress = false
    var keepLinks = false
    var structure = false
    var expandTemplates = false
    var templateBestEffort = false
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--infn" => infn = args(i + 1); i += 2
        case "--out" => out = args(i + 1); i += 2
        case "--incubator" => incubator = Some(args(i + 1)); i += 2
        case "--vitalfn" => vitalfn = Some(args(i + 1)); i += 2
        case "--compress" => compress = true; i += 1
        case "--keep-links" => keepLinks = true; i += 1
        case "--structure" => structure = true; i += 1
        case "--expand-templates" => expandTemplates = true; i += 1
        case "--expand-templates=best-effort" =>
          expandTemplates = true; templateBestEffort = true; i += 1
        case other => sys.error(s"unknown argument: $other")
      }
    }
    if (infn.isEmpty) {
      System.err.println("Please include --infn FILENAME in your command.")
      sys.exit(1)
    }
    val cpus = Tables.localCpus
    val spark: SparkSession = Tables.newSession("graft-wiki", s"local[$cpus]", cpus)
    val cfg = WikiPipeline.Config(keepLinks = keepLinks, structure = structure,
      incubator = incubator, vitalFn = vitalfn, expandTemplates = expandTemplates,
      templateOverflow =
        if (templateBestEffort) WikiPipeline.TemplateOverflow.BestEffort
        else WikiPipeline.TemplateOverflow.Fail)
    val t0 = System.nanoTime()
    val lines = writeCounted(spark, infn, out, cfg, compress)
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"wrote $lines lines to $out in $secs%.1f s")
    spark.stop()
  }
}
