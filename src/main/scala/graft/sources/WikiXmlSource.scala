package graft.sources

import java.util.regex.Pattern
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.mapreduce.lib.input.TextInputFormat
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}

/** One parsed `<page>` from a MediaWiki dump (WikiExtractor.py:589-651's
  * extraction: first id wins, redirect flag, raw text body).
  */
case class WikiPage(id: String, title: String, redirect: Boolean, text: String)

/** Scalable MediaWiki XML dump reader.
  *
  * Instead of the reference's sequential line scanner, the dump is split on
  * the `</page>` record delimiter via Hadoop's TextInputFormat, so every
  * HDFS block is an independent task — a 100 TB dump parses with no shuffle
  * and no driver involvement. Plain and bzip2 inputs split; gzip falls back
  * to one task per file (same formats the reference accepts,
  * WikiExtractor.py:739-754).
  *
  * Per-record parsing scans the record from its `<page` on with `indexOf`
  * (no DOM, no copy of the record; the fields are the only allocations).
  */
object WikiXmlSource {

  private val redirectRe = Pattern.compile("<redirect\\b")
  private val baseRe = Pattern.compile("<base>(.*?)</base>")

  private val DefaultSplitBytes = 16L * 1024 * 1024

  /** The dump's `</page>`-delimited records (the delimiter dropped), one
    * task per split of at most `maxSplitBytes`.
    *
    * NOTE for directory inputs: Hadoop's input layer silently skips files
    * whose names start with `_` or `.` (the "hidden" convention used by
    * `_SUCCESS` markers) — dump parts must not be named that way.
    */
  def records(spark: SparkSession, path: String,
              maxSplitBytes: Long = DefaultSplitBytes): RDD[String] = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set("textinputformat.record.delimiter", "</page>")
    // cap split size so a single-file dump still fans out across all
    // cores (the 128 MB default gives a 300 MB file only 3 tasks)
    conf.setLong("mapreduce.input.fileinputformat.split.maxsize", maxSplitBytes)
    spark.sparkContext
      .newAPIHadoopFile(path, classOf[TextInputFormat],
        classOf[LongWritable], classOf[Text], conf)
      .map(_._2.toString)
  }

  /** The dump's pages: [[records]] through [[parsePage]]. */
  def pages(spark: SparkSession, path: String,
            maxSplitBytes: Long = DefaultSplitBytes): Dataset[WikiPage] = {
    import spark.implicits._
    records(spark, path, maxSplitBytes).flatMap(parsePage).toDS()
  }

  /** Parse one `</page>`-delimited record; None for non-page chunks
    * (the leading siteinfo block, trailing `</mediawiki>`).
    *
    * From the record's first `<page` on, the fields are what these regexes
    * find, located with `indexOf` instead: `<title>(.*?)</title>` and
    * `<text[^>]*>(.*?)</text>` (both DOTALL; no text gives ""),
    * `<id>(.*?)</id>` (`.` stops at a line terminator) and `<redirect\b`.
    */
  def parsePage(record: String): Option[WikiPage] = {
    val start = record.indexOf("<page")
    if (start < 0) return None
    val title = between(record, "<title>", "</title>", start)
    val id = if (title == null) null else firstId(record, start)
    if (id == null) None
    else {
      val open = record.indexOf("<text", start)
      val gt = if (open < 0) -1 else record.indexOf('>', open + 5)
      val close = if (gt < 0) -1 else record.indexOf("</text>", gt + 1)
      val text = if (close < 0) "" else record.substring(gt + 1, close)
      Some(WikiPage(id, title, redirectRe.matcher(record).find(start), text))
    }
  }

  /** The text between the first `open` at or after `from` and the first
    * `close` after it; null when either is missing.
    */
  private def between(s: String, open: String, close: String, from: Int): String = {
    val p = s.indexOf(open, from)
    val q = if (p < 0) -1 else s.indexOf(close, p + open.length)
    if (q < 0) null else s.substring(p + open.length, q)
  }

  /** The group of the first `<id>(.*?)</id>` at or after `from`, where `.`
    * matches no line terminator; null when there is none. An `<id>` whose
    * line ends before a `</id>` is skipped, and so is every `<id>` before
    * that line end, so each character is looked at a bounded number of times.
    */
  private def firstId(s: String, from: Int): String = {
    var p = s.indexOf("<id>", from)
    while (p >= 0) {
      var i = p + 4
      while (i < s.length && !s.startsWith("</id>", i) && !isLineTerminator(s.charAt(i))) i += 1
      if (i < s.length && s.charAt(i) == '<') return s.substring(p + 4, i)
      p = s.indexOf("<id>", i)
    }
    null
  }

  private def isLineTerminator(c: Char): Boolean =
    c == '\n' || c == '\r' || c == '\u0085' || c == '\u2028' || c == '\u2029'

  /** Re-encode a non-splittable dump (gzip collapses to one task per file)
    * into a directory of `parts` bzip2-compressed record files that every
    * later run reads fully parallel — one slow sequential pass, paid once.
    * Records keep their `</page>` terminator so [[pages]] re-splits them
    * identically.
    *
    * The repartition scatters the siteinfo header record into an arbitrary
    * position of an arbitrary part, where [[basePrefix]]'s head-bounded
    * scan would miss it — so the `<base>` line (captured during the same
    * single pass via an accumulator, no second read) is re-emitted into a
    * tiny `aa-siteinfo.txt` sibling whose name sorts first and is NOT
    * underscore-prefixed (Hadoop input silently skips `_`/`.` files).
    * [[pages]] ignores it (no `<page>` element); [[basePrefix]] finds it
    * at a file head, where the contract requires it.
    */
  def recode(spark: SparkSession, inPath: String, outPath: String,
             parts: Int = 64): Unit = {
    import spark.implicits._
    val baseLines = spark.sparkContext.collectionAccumulator[String]("siteinfo-base")
    records(spark, inPath)
      .map { r =>
        val rec = r + "</page>"
        if (rec.contains("<base>"))
          rec.linesIterator.find(_.contains("<base>")).foreach(baseLines.add)
        rec
      }
      .toDS()
      .repartition(parts)
      .write.option("compression", "bzip2").mode("overwrite").text(outPath)
    // at-least-once task semantics can duplicate accumulator entries;
    // any one copy of the line is fine
    val base = {
      import scala.jdk.CollectionConverters._
      baseLines.value.asScala.headOption
    }
    base.foreach { line =>
      val p = new org.apache.hadoop.fs.Path(outPath, "aa-siteinfo.txt")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(p, true)
      try out.write((line + "\n").getBytes("UTF-8")) finally out.close()
    }
  }

  /** Site URL prefix from `/mediawiki/siteinfo/base`
    * (WikiExtractor.py:647-651): everything before the last '/'.
    *
    * Reads only file HEADS, per FILE (not per Spark split — split packing
    * can hide a tiny header sibling behind a large part in the same
    * partition): files are visited in name order with an early exit at
    * the first `<base>` hit, each contributing at most its first
    * `headLines` lines (decompressed through the file's Hadoop codec, so
    * gz/bz2 dumps cost only their head too). A dump with no `<base>`
    * anywhere therefore costs O(files × headLines) lines — bounded
    * metadata discovery like partition listing, NOT the full-corpus read
    * the old unbounded filter paid before returning None. Driver-side on
    * purpose: it is a metadata lookup, and the common case (siteinfo in
    * the dump header, or [[recode]]'s `aa-siteinfo.txt` sorting first)
    * touches one file head.
    *
    * Contract: the `<base>` element must sit within the first `headLines`
    * lines of its FILE — true by construction for real dumps (siteinfo
    * precedes the first page) and for [[recode]] outputs (the header is
    * re-emitted as a head-positioned sibling). A directory produced by
    * recode BEFORE this contract existed scatters the header mid-part and
    * needs a re-recode (or a hand-placed header sibling) to resolve.
    */
  def basePrefix(spark: SparkSession, path: String,
                 headLines: Int = 4096): Option[String] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(hconf)
    if (!fs.exists(root)) return None
    val files =
      (if (fs.getFileStatus(root).isDirectory)
        fs.listStatus(root).filter(_.isFile).map(_.getPath).toSeq
      else Seq(root))
        .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
        .sortBy(_.getName)
    val codecs = new org.apache.hadoop.io.compress.CompressionCodecFactory(hconf)
    def headBase(f: org.apache.hadoop.fs.Path): Option[String] = {
      val raw = fs.open(f)
      try {
        val in: java.io.InputStream =
          Option(codecs.getCodec(f)).map(_.createInputStream(raw)).getOrElse(raw)
        val br = new java.io.BufferedReader(new java.io.InputStreamReader(
          in, java.nio.charset.StandardCharsets.UTF_8))
        var hit: Option[String] = None
        var i = 0
        var line = br.readLine()
        while (hit.isEmpty && line != null && i < headLines) {
          if (line.contains("<base>")) hit = Some(line)
          i += 1
          line = if (hit.isEmpty && i < headLines) br.readLine() else null
        }
        hit
      } finally raw.close()
    }
    files.iterator.flatMap(f => headBase(f)).nextOption().flatMap { line =>
      val m = baseRe.matcher(line)
      if (m.find()) {
        val base = m.group(1)
        Some(base.substring(0, base.lastIndexOf("/")))
      } else None
    }
  }
}
