package graft.wiki

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{WikiPage, WikiXmlSource}
import WikiPipeline.{Config, loadVitalTitles, templateLibrary}

/** The staged Dataset composition `WikiPipeline.run` used to be, kept as
  * the oracle for its per-page rewrite, as `CleanOracle` is for `clean`:
  * `WikiXmlSource.pages` → typed `articles` filter → clean/compact UDF →
  * vital-title broadcast semi-join and join → sentence-format UDF. The
  * bodies below are the old ones, unchanged.
  */
object StagedOracle {

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
