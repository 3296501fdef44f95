package graft.wiki

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{WikiPage, WikiXmlSource}

/** The reference's end-to-end flow (dump → filter → clean → render → write),
  * as Dataset transforms. Every stage is per-row — the whole pipeline runs
  * in a single Spark stage with no shuffle, which is the property that makes
  * it hold at 100 TB: wall-clock scales with executors, full stop.
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
    * broadcast into [[extract]]. The template namespace is a small slice of
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
    * downstream joins broadcast it.
    */
  def loadVitalTitles(spark: SparkSession, path: String): DataFrame =
    spark.read.textFile(path).toDF("line")
      .select(split(trim(col("line")), "\\|\\|\\|").as("parts"))
      .select(element_at(col("parts"), 1).as("title"),
        slice(col("parts"), lit(2), greatest(size(col("parts")) - 1, lit(0))).as("tags"))

  /** Redirect + namespace filtering (WikiExtractor.py:627-629), plus
    * incubator-mode `Wx/lang/Title` selection (WikiExtractor.py:631).
    */
  def articles(pages: Dataset[WikiPage], cfg: Config = Config()): Dataset[WikiPage] = {
    import pages.sparkSession.implicits._
    val ns = cfg.namespaces
    val base = pages.filter { p =>
      val colon = p.title.indexOf(':')
      !p.redirect && (colon < 0 || ns.contains(p.title.substring(0, colon)))
    }
    cfg.incubator match {
      case None => base
      case Some(lang) =>
        base.flatMap { p =>
          val parts = p.title.split("/")
          if (parts.length > 2 && parts(1) == lang) Some(p.copy(title = parts(2))) else None
        }
    }
  }

  /** Clean + compact each article: adds `lines` (the compacted paragraphs)
    * keeping id/title. Pure per-row CPU — stays in one stage. A non-empty
    * `templates` library is broadcast once per executor (not serialized per
    * task closure) and applied before cleaning.
    */
  def extract(articles: Dataset[WikiPage], cfg: Config = Config(),
              templates: Map[String, String] = Map.empty): DataFrame = {
    val keepLinks = cfg.keepLinks
    val structure = cfg.structure
    val ns = cfg.namespaces
    val levels = cfg.templateLevels
    // expansion is explicit: with the flag off AND no library, text must
    // flow straight to clean() (reference parity — parser functions now
    // EVALUATE inside expandTemplates, so reaching it with an empty map is
    // no longer behavior-neutral)
    val doExpand = cfg.expandTemplates || templates.nonEmpty
    val bcTemplates =
      if (doExpand) Some(articles.sparkSession.sparkContext.broadcast(templates)) else None
    val extractUdf = udf { (text: String) =>
      val expanded = bcTemplates match {
        case Some(bc) => WikiMarkup.expandTemplates(text, bc.value, levels)
        case None => text
      }
      WikiMarkup.compact(WikiMarkup.clean(expanded, keepLinks, ns), structure)
    }
    articles.toDF()
      .withColumn("lines", extractUdf(col("text")))
      .select("id", "title", "lines")
  }

  /** Attach vital-article tags via broadcast join and keep only listed
    * titles (the reference's vital_titles/vital_tags path,
    * WikiExtractor.py:630-643). `vital` must have columns (title, tags).
    */
  def withVitalTags(extracted: DataFrame, vital: DataFrame): DataFrame =
    extracted.join(broadcast(vital), "title")

  /** Sentence-format rendering (WikiDocumentSentences, WikiExtractor.py:134):
    * a blank line, `title:tag|||tag`, then one compacted line per row.
    */
  def toSentenceFormat(extracted: DataFrame): DataFrame = {
    val render = udf { (title: String, tags: Seq[String], lines: Seq[String]) =>
      val tagStr = Option(tags).getOrElse(Seq.empty).mkString("|||")
      "\n" + title + ":" + tagStr + "\n" + lines.map(_ + "\n").mkString
    }
    val withTags =
      if (extracted.columns.contains("tags")) extracted
      else extracted.withColumn("tags", array().cast("array<string>"))
    withTags.select(col("id"),
      render(col("title"), col("tags"), col("lines")).as("rendered"))
  }

  /** Tanl document format (`<doc id url title>`, WikiExtractor.py:121-132),
    * with the reference's URL scheme from the dump's site base.
    */
  def toDocFormat(extracted: DataFrame, urlPrefix: String): DataFrame = {
    val render = udf { (id: String, title: String, lines: Seq[String]) =>
      val url = WikiMarkup.pageUrl(urlPrefix, id)
      s"""<doc id="$id" url="$url" title="$title">""" + "\n" + title + "\n" +
        lines.map(_ + "\n").mkString + "</doc>"
    }
    extracted.select(col("id"), render(col("id"), col("title"), col("lines")).as("rendered"))
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
    // strip ours to keep the written bytes identical to the reference.
    val w = rendered
      .select(regexp_replace(col("rendered"), "\\n$", "").as("rendered"))
      .write
      .option("maxRecordsPerFile", maxRecordsPerFile)
    (if (compress) w.option("compression", "bzip2") else w)
      .mode("overwrite").text(path)
  }

  /** Full reference flow: dump path → rendered docs. With a vital-titles
    * file, unlisted pages are dropped by a broadcast semi-join BEFORE the
    * (expensive) markup cleaning — the curated list is tiny, the dump is
    * not — and tags are attached after extraction.
    */
  def run(spark: SparkSession, dumpPath: String, cfg: Config = Config()): DataFrame = {
    val pages = WikiXmlSource.pages(spark, dumpPath)
    // template library from the raw pages (articles() filters Template: out)
    val templates =
      if (cfg.expandTemplates)
        templateLibrary(pages, overflow = cfg.templateOverflow)
      else Map.empty[String, String]
    val arts = articles(pages, cfg)
    cfg.vitalFn match {
      case None => toSentenceFormat(extract(arts, cfg, templates))
      case Some(fn) =>
        import arts.sparkSession.implicits._
        val vital = loadVitalTitles(spark, fn)
        val kept = arts.join(broadcast(vital), Seq("title"), "left_semi")
          .as[graft.sources.WikiPage]
        toSentenceFormat(withVitalTags(extract(kept, cfg, templates), broadcast(vital)))
    }
  }
}
