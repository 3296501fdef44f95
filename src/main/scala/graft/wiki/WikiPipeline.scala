package graft.wiki

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{WikiPage, WikiXmlSource}

/** The reference's end-to-end flow (dump → filter → clean → render → write)
  * as one Spark-free function of a page, [[renderRecord]]: it parses a
  * `</page>` record, keeps articles (redirect, namespace, incubator and
  * vital-title filters), expands templates when asked, then cleans,
  * compacts and renders the page in sentence format. [[run]] applies it in
  * a single `flatMap` over the dump's record RDD, so the whole pipeline is
  * one Spark stage with no shuffle, and a page becomes a Spark row only
  * once it is rendered. That is the property that makes it hold at 100 TB:
  * wall-clock scales with executors, full stop.
  */
object WikiPipeline {

  /** Pipeline knobs, mirroring the reference CLI (WikiExtractor.py:683-698).
    *
    * @param keepLinks  render `[[..]]` as `<a>` anchors (WikiExtractor.py:78)
    * @param structure  emit `<hN>`/`<li>` structure lines (WikiExtractor.py:83)
    * @param incubator  incubator language filter (WikiExtractor.py:631-636)
    * @param vitalFn    vital-titles file: keep only listed titles, attach
    *                   their tags (WikiExtractor.py:629-643, 654-666)
    * @param expandTemplates  expand `{{..}}` transclusions from the dump's
    *                   own Template: pages before cleaning, `templateLevels`
    *                   nesting levels deep (parity-PLUS — default off
    *                   preserves reference-identical output; the reference
    *                   drops all templates, its FIXME at WikiExtractor.py:370)
    */
  case class Config(
      keepLinks: Boolean = false,
      structure: Boolean = false,
      incubator: Option[String] = None,
      namespaces: Set[String] = WikiMarkup.acceptedNamespaces,
      vitalFn: Option[String] = None,
      expandTemplates: Boolean = false,
      templateLevels: Int = 1,
      templateOverflow: TemplateOverflow = TemplateOverflow.Fail)

  /** What to do when `expandTemplates` is requested but the dump's
    * template library exceeds the driver-collect bound: a caller who
    * passed `--expand-templates` asked for expanded output, so silently
    * degrading to drop-all-templates (a log-level WARN was the only
    * trace) is the wrong default — the run FAILS with the measured size
    * and the remediation in the message unless the caller explicitly
    * accepted best-effort (`--expand-templates=best-effort`).
    */
  sealed trait TemplateOverflow
  object TemplateOverflow {
    /** Refuse the run loudly (default): the caller asked for expansion
      * and would otherwise get un-expanded output with no visible signal.
      */
    case object Fail extends TemplateOverflow
    /** Log and proceed with expansion disabled — the parity direction
      * (the reference drops all templates anyway), for callers who want
      * expansion opportunistically.
      */
    case object BestEffort extends TemplateOverflow
  }

  /** The dump's Template: pages as a name → transcluded-body map, for
    * broadcast into [[renderRecord]]. The template namespace is a small slice of
    * any dump (curated content, no article bodies), so driver-side collect
    * + closure broadcast is the right scale shape — every executor needs
    * the whole library anyway.
    *
    * Guarded: the library's size is measured distributed BEFORE anything
    * is collected, and if it exceeds `maxChars` (en-wiki's ~10⁶ templates
    * can reach driver-OOM territory) the collect is skipped — under
    * [[TemplateOverflow.Fail]] (default) the run refuses with the
    * measured size and the remediation in the exception; under
    * [[TemplateOverflow.BestEffort]] the library comes back empty and
    * expansion soft-disables with a WARN carrying the same numbers, so
    * the operator can raise the bound (with driver memory to match) or
    * pre-filter the namespace.
    */
  def templateLibrary(pages: Dataset[WikiPage],
                      maxChars: Long = 256L * 1024 * 1024,
                      overflow: TemplateOverflow = TemplateOverflow.Fail)
      : Map[String, String] = {
    import pages.sparkSession.implicits._
    // persisted: the size guard and the collect otherwise each re-run the
    // namespace filter + transclusionBody parse over the whole dump slice
    val tpl = pages
      .filter(p => !p.redirect && p.title.startsWith("Template:"))
      .map(p => (WikiMarkup.normalizeTemplateName(p.title),
        WikiMarkup.transclusionBody(p.text)))
      .persist()
    try {
      val totalChars = tpl
        .select(sum(length(col("_1")) + length(col("_2"))).cast("long"))
        .head().getAs[java.lang.Long](0)
      val size = Option(totalChars).map(_.toLong).getOrElse(0L)
      if (size > maxChars) {
        val msg = s"template library is $size chars (> $maxChars bound); " +
          "raise maxChars (with driver memory to match) or pre-filter " +
          "the Template: namespace"
        overflow match {
          case TemplateOverflow.Fail =>
            throw new IllegalStateException(
              s"template expansion requested but $msg — or pass " +
                "best-effort overflow (--expand-templates=best-effort) " +
                "to proceed with expansion disabled")
          case TemplateOverflow.BestEffort =>
            org.slf4j.LoggerFactory.getLogger(getClass)
              .warn(s"$msg: skipping collect, template expansion " +
                "DISABLED for this run (best-effort overflow)")
            Map.empty
        }
      } else tpl.collect().toMap
    } finally tpl.unpersist()
  }

  /** Load a vital-titles file (reference load_vital_titles,
    * WikiExtractor.py:654-666): one `Title|||tag1|||tag2` line per entry.
    * Returns (title, tags) — small by construction (a curated list), so
    * [[vitalTags]] collects it for broadcast.
    */
  def loadVitalTitles(spark: SparkSession, path: String): DataFrame =
    spark.read.textFile(path).toDF("line")
      .select(split(trim(col("line")), "\\|\\|\\|").as("parts"))
      .select(element_at(col("parts"), 1).as("title"),
        slice(col("parts"), lit(2), greatest(size(col("parts")) - 1, lit(0))).as("tags"))

  /** Tags by title from [[loadVitalTitles]], one entry per line of the
    * file: a title listed twice renders twice, once with each line's tags.
    */
  def vitalTags(spark: SparkSession, path: String): Map[String, Seq[Seq[String]]] =
    loadVitalTitles(spark, path).collect().toSeq
      .groupMap(_.getString(0))(_.getSeq[String](1).toSeq)

  /** The page as an article, or None: redirects and pages outside the
    * accepted namespaces are skipped (WikiExtractor.py:627-629), and in
    * incubator mode only `Wx/lang/Title` pages are kept, retitled `Title`
    * (WikiExtractor.py:631).
    */
  def article(p: WikiPage, cfg: Config): Option[WikiPage] = {
    val colon = p.title.indexOf(':')
    if (p.redirect || (colon >= 0 && !cfg.namespaces.contains(p.title.substring(0, colon)))) None
    else cfg.incubator match {
      case None => Some(p)
      case Some(lang) =>
        val parts = p.title.split("/")
        if (parts.length > 2 && parts(1) == lang) Some(p.copy(title = parts(2))) else None
    }
  }

  /** Clean + compact one article body into its paragraphs. With a template
    * library the body is expanded first, `cfg.templateLevels` deep; without
    * one it goes straight to `clean` (reference parity: parser functions
    * evaluate inside expansion even when the library is empty).
    */
  def extractLines(text: String, cfg: Config,
                   templates: Option[collection.Map[String, String]]): Seq[String] = {
    val expanded = templates.fold(text)(WikiMarkup.expandTemplates(text, _, cfg.templateLevels))
    WikiMarkup.compact(WikiMarkup.clean(expanded, cfg.keepLinks, cfg.namespaces), cfg.structure)
  }

  /** Tanl document format (`<doc id url title>`, WikiExtractor.py:121-132),
    * with the reference's URL scheme from the dump's site base.
    */
  def docFormat(id: String, title: String, lines: Seq[String], urlPrefix: String): String = {
    val url = WikiMarkup.pageUrl(urlPrefix, id)
    s"""<doc id="$id" url="$url" title="$title">""" + "\n" + title + "\n" +
      lines.map(_ + "\n").mkString + "</doc>"
  }

  /** One rendered document: the page id, its sentence-format text, and the
    * number of newlines in that text, which is the number of lines
    * [[write]] writes for it.
    */
  final case class Doc(id: String, rendered: String, lines: Long)

  private val docEncoder: Encoder[Doc] = Encoders.product[Doc]

  /** The per-page function. A record that is not an article, or whose title
    * `vital` (when given) does not list, gives no document; otherwise the
    * body is cleaned once and rendered in sentence format
    * (WikiDocumentSentences, WikiExtractor.py:134) once per vital line of
    * the title, or once without `vital`: a blank line, `title:tag|||tag`,
    * then one line per compacted paragraph.
    */
  def renderRecord(record: String, cfg: Config,
                   vital: Option[collection.Map[String, Seq[Seq[String]]]],
                   templates: Option[collection.Map[String, String]]): Seq[Doc] =
    WikiXmlSource.parsePage(record).flatMap(article(_, cfg)) match {
      case None => Nil
      case Some(a) =>
        val tagLines = vital.fold(Seq(Seq.empty[String]))(_.getOrElse(a.title, Nil))
        if (tagLines.isEmpty) Nil
        else {
          val lines = extractLines(a.text, cfg, templates)
          val body = lines.map(_ + "\n").mkString
          tagLines.map { tags =>
            val header = "\n" + a.title + ":" + tags.mkString("|||") + "\n"
            Doc(a.id, header + body, header.count(_ == '\n') + lines.size)
          }
        }
    }

  /** Every document of the dump: [[renderRecord]] in one `flatMap` over
    * [[WikiXmlSource.records]], as (id, rendered, lines). The vital titles
    * and the template library (only with `expandTemplates`) are collected
    * on the driver and each broadcast as one value.
    */
  def documents(spark: SparkSession, dumpPath: String, cfg: Config = Config()): Dataset[Doc] = {
    val sc = spark.sparkContext
    val vital = cfg.vitalFn.map(fn => sc.broadcast(vitalTags(spark, fn)))
    val templates =
      if (!cfg.expandTemplates) None
      else Some(sc.broadcast(
        templateLibrary(WikiXmlSource.pages(spark, dumpPath), overflow = cfg.templateOverflow)))
    val docs = WikiXmlSource.records(spark, dumpPath)
      .flatMap(renderRecord(_, cfg, vital.map(_.value), templates.map(_.value)))
    spark.createDataset(docs)(docEncoder)
  }

  /** Size-split text sink — the OutputSplitter (WikiExtractor.py:526-582)
    * re-expressed as a parallel write: `maxRecordsPerFile` bounds file size,
    * `compression` covers the reference's bz2 option, and partitioning keeps
    * the write distributed (no single-writer bottleneck at scale).
    */
  def write(rendered: DataFrame, path: String,
            compress: Boolean = false, maxRecordsPerFile: Long = 100000): Unit = {
    // rendered docs carry their trailing newline (so concatenation equals
    // the reference's output stream); the text sink adds one per row, so
    // strip exactly that one to keep the written bytes identical to the
    // reference. `\z`, not `$`: `$` also matches before a final "\r\n",
    // which would eat the newline ahead of a last line holding a lone \r.
    val w = rendered
      .select(regexp_replace(col("rendered"), "\\n\\z", "").as("rendered"))
      .write
      .option("maxRecordsPerFile", maxRecordsPerFile)
    (if (compress) w.option("compression", "bzip2") else w)
      .mode("overwrite").text(path)
  }

  /** Full reference flow: dump path → rendered docs as (id, rendered), the
    * `rendered` text ending in its newline.
    */
  def run(spark: SparkSession, dumpPath: String, cfg: Config = Config()): DataFrame =
    documents(spark, dumpPath, cfg).select("id", "rendered")
}
