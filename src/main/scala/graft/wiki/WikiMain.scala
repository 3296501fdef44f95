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

  /** What the command line asks for. */
  final case class Args(infn: String = "", out: String = "wiki_out",
                        cfg: WikiPipeline.Config = WikiPipeline.Config(),
                        compress: Boolean = false)

  private val valueFlags = Set("--infn", "--out", "--incubator", "--vitalfn")

  /** Parses the command line, or returns the usage error to print. */
  def parseArgs(args: List[String]): Either[String, Args] = {
    @annotation.tailrec
    def go(rest: List[String], a: Args): Either[String, Args] = {
      def cfg(f: WikiPipeline.Config => WikiPipeline.Config) =
        a.copy(cfg = f(a.cfg))
      rest match {
        case Nil if a.infn.isEmpty =>
          Left("Please include --infn FILENAME in your command.")
        case Nil => Right(a)
        case flag :: Nil if valueFlags(flag) => Left(s"$flag needs a value")
        case "--infn" :: v :: t => go(t, a.copy(infn = v))
        case "--out" :: v :: t => go(t, a.copy(out = v))
        case "--incubator" :: v :: t => go(t, cfg(_.copy(incubator = Some(v))))
        case "--vitalfn" :: v :: t => go(t, cfg(_.copy(vitalFn = Some(v))))
        case "--compress" :: t => go(t, a.copy(compress = true))
        case "--keep-links" :: t => go(t, cfg(_.copy(keepLinks = true)))
        case "--structure" :: t => go(t, cfg(_.copy(structure = true)))
        case "--expand-templates" :: t =>
          go(t, cfg(_.copy(expandTemplates = true)))
        case "--expand-templates=best-effort" :: t =>
          go(t, cfg(_.copy(expandTemplates = true,
            templateOverflow = WikiPipeline.TemplateOverflow.BestEffort)))
        case other :: _ => Left(s"unknown argument: $other")
      }
    }
    go(args, Args())
  }

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args.toList) match {
      case Right(a) => a
      case Left(usage) =>
        System.err.println(usage)
        sys.exit(1)
    }
    val cpus = Tables.localCpus
    val spark: SparkSession = Tables.newSession("graft-wiki", s"local[$cpus]", cpus)
    val t0 = System.nanoTime()
    val lines = writeCounted(spark, a.infn, a.out, a.cfg, a.compress)
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"wrote $lines lines to ${a.out} in $secs%.1f s")
    spark.stop()
  }
}
