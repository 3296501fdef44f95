package graft.wiki

import org.apache.spark.sql.SparkSession
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
    val rendered = WikiPipeline.run(spark, infn, cfg)
    WikiPipeline.write(rendered, out, compress = compress)
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"wrote ${spark.read.textFile(out).count()} lines to $out in $secs%.1f s")
    spark.stop()
  }
}
