package graft.wiki

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.util.Random

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import WikiPipeline.Config

/** Differential check: `WikiPipeline.run`, one per-page function in a
  * single `flatMap`, must give exactly the (id, rendered) rows of
  * `StagedOracle.run`, the staged Dataset composition it replaced, on both
  * wiki fixtures and a generated dump, for every pipeline config.
  */
class WikiPipelineOracleSpec extends SparkSpec {

  private lazy val dir: Path = Files.createDirectories(Paths.get("target/tmp/wiki_oracle"))

  private def resource(name: String): String = {
    val p = dir.resolve(name)
    Files.copy(getClass.getResourceAsStream("/" + name), p, StandardCopyOption.REPLACE_EXISTING)
    p.toString
  }

  /** A dump of `WikiPageGen` bodies under titles that exercise every filter:
    * redirects, non-article namespaces, `w:` links, incubator subpages, and
    * Template: pages named after the generator's frequent words, so that
    * template expansion has something to expand.
    */
  private lazy val generated: (String, Seq[String]) = {
    val gen = new WikiPageGen(seed = 20261020L)
    val rng = new Random(11)
    val templateNames = Iterator.continually(gen.word()).distinct.take(12).toSeq
    def title(): String = {
      val base = Seq.fill(1 + rng.nextInt(3))(gen.word()).mkString(" ").capitalize
      rng.nextInt(20) match {
        case 0 => "Category:" + base
        case 1 => "Talk:" + base
        case 2 => "w:" + base
        case 3 | 4 => "Wp/enm/" + base
        case 5 => "Wp/fr/" + base
        case 6 => "Wp/enm"
        case _ => base
      }
    }
    def page(id: Int, title: String, redirect: Boolean, body: String): String =
      s"""  <page>
         |    <title>$title</title>
         |    <ns>0</ns>
         |    <id>$id</id>
         |${if (redirect) "    <redirect title=\"Elsewhere\" />\n" else ""}    <revision>
         |      <id>${100000 + id}</id>
         |      <text xml:space="preserve">$body</text>
         |    </revision>
         |  </page>
         |""".stripMargin
    val templates = templateNames.zipWithIndex.map { case (name, i) =>
      page(i + 1, "Template:" + name.capitalize, redirect = false,
        s"'''$name''' {{{p0|none}}} and {{{1|}}}&lt;noinclude&gt;doc&lt;/noinclude&gt;")
    }
    val titles = Seq.fill(400)(title())
    val articles = titles.zipWithIndex.map { case (t, i) =>
      page(1000 + i, t, redirect = rng.nextInt(12) == 0, gen.page())
    }
    val p = dir.resolve("generated_dump.xml")
    Files.writeString(p, "<mediawiki>\n  <siteinfo>\n    <base>http://gen.example.org/wiki/Main</base>\n" +
      "  </siteinfo>\n" + (templates ++ articles).mkString + "</mediawiki>\n")
    (p.toString, titles)
  }

  /** Vital titles from all three dumps; "Alpha Article" and one generated
    * title are listed twice, with different tags.
    */
  private lazy val vitalFile: String = {
    val gen = generated._2.filterNot(_.contains(':')).distinct
    val incubator = generated._2.filter(_.startsWith("Wp/enm/")).map(_.stripPrefix("Wp/enm/"))
    val lines = Seq("Alpha Article|||vital|||level1", "Gamma", "Alpha Article|||again") ++
      gen.take(30).map(t => s"$t|||gen") ++ Seq(s"${gen.head}|||twice|||x") ++
      incubator.take(5) ++ Seq("Not A Page|||x")
    val p = dir.resolve("vital.txt")
    Files.writeString(p, lines.mkString("\n") + "\n")
    p.toString
  }

  private def rows(df: DataFrame): Seq[(String, String)] = {
    import spark.implicits._
    df.as[(String, String)].collect().toSeq.sorted
  }

  private val configs: Seq[(String, () => Config)] = Seq(
    "default" -> (() => Config()),
    "keepLinks" -> (() => Config(keepLinks = true)),
    "structure" -> (() => Config(structure = true)),
    "incubator enm" -> (() => Config(incubator = Some("enm"))),
    "vitalFn" -> (() => Config(vitalFn = Some(vitalFile))),
    "expandTemplates" -> (() => Config(expandTemplates = true)))

  for ((name, cfg) <- configs)
    test(s"run equals the staged composition: $name") {
      val dumps = Seq(resource("wiki_e2e_dump.xml"), resource("wiki_incub_dump.xml"), generated._1)
      for (dump <- dumps) {
        val got = rows(WikiPipeline.run(spark, dump, cfg()))
        val want = rows(StagedOracle.run(spark, dump, cfg()))
        assert(got == want, s"$dump: ${got.size} rows, the staged composition ${want.size}")
      }
    }

  test("the differential inputs reach every path") {
    val gen = generated._1
    val e2e = resource("wiki_e2e_dump.xml")
    // a title listed twice renders twice, once per vital line
    val vital = rows(WikiPipeline.run(spark, e2e, Config(vitalFn = Some(vitalFile))))
    assert(vital.count(_._2.startsWith("\nAlpha Article:")) == 2 && vital.size == 3)
    val genVital = rows(WikiPipeline.run(spark, gen, Config(vitalFn = Some(vitalFile))))
    assert(genVital.exists(_._2.contains(":twice|||x\n")) && genVital.size > 30)
    // incubator pages exist in the generated dump and are retitled
    val incubator = rows(WikiPipeline.run(spark, gen, Config(incubator = Some("enm"))))
    assert(incubator.size > 20)
    // expansion changes some generated pages
    val plain = rows(WikiPipeline.run(spark, gen, Config()))
    val expanded = rows(WikiPipeline.run(spark, gen, Config(expandTemplates = true)))
    assert(plain.size > 250 && plain.size == expanded.size && plain != expanded)
  }
}
