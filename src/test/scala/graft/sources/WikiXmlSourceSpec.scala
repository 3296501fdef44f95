package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.util.regex.Pattern

import org.scalatest.funsuite.AnyFunSuite

import graft.wiki.WikiPageGen

/** Differential check: `WikiXmlSource.parsePage`, an `indexOf` scan, must
  * give exactly the page of the regex parse it replaced (kept below as the
  * oracle), on the fixture dumps, generated records and adversarial ones.
  */
class WikiXmlSourceSpec extends AnyFunSuite {

  private object RegexParse {
    private val titleRe = Pattern.compile("<title>(.*?)</title>", Pattern.DOTALL)
    private val idRe = Pattern.compile("<id>(.*?)</id>")
    private val redirectRe = Pattern.compile("<redirect\\b")
    private val textRe = Pattern.compile("<text[^>]*>(.*?)</text>", Pattern.DOTALL)

    def parsePage(record: String): Option[WikiPage] = {
      val start = record.indexOf("<page")
      if (start < 0) None
      else {
        val rec = record.substring(start)
        val tm = titleRe.matcher(rec)
        val im = idRe.matcher(rec)
        if (!tm.find() || !im.find()) None
        else {
          val xm = textRe.matcher(rec)
          val text = if (xm.find()) xm.group(1) else ""
          Some(WikiPage(im.group(1), tm.group(1), redirectRe.matcher(rec).find(), text))
        }
      }
    }
  }

  private def assertMatchesOracle(what: String, records: Seq[String]): Unit = {
    val bad = records.filter(r => WikiXmlSource.parsePage(r) != RegexParse.parsePage(r))
    for (r <- bad.headOption)
      fail(s"$what: ${bad.size} of ${records.size} differ; first: $r\n" +
        s"  parsePage: ${WikiXmlSource.parsePage(r)}\n  oracle:    ${RegexParse.parsePage(r)}")
  }

  test("parsePage equals the regex parse on the fixture dumps and generated records") {
    val fixtures = Seq("/wiki_e2e_dump.xml", "/wiki_incub_dump.xml").flatMap { res =>
      new String(getClass.getResourceAsStream(res).readAllBytes(), UTF_8).split("</page>", -1).toSeq
    }
    assert(fixtures.count(r => WikiXmlSource.parsePage(r).isDefined) == 9)
    assertMatchesOracle("fixture dumps", fixtures)
    val gen = new WikiPageGen(seed = 5L)
    val generated = (1 to 2000).map { i =>
      s"  <page>\n    <title>${gen.word()} $i</title>\n    <id>$i</id>\n" +
        (if (i % 9 == 0) "    <redirect title=\"x\" />\n" else "") +
        s"    <revision>\n      <id>${i + 7}</id>\n      <text xml:space=\"preserve\">${gen.page()}</text>\n" +
        "    </revision>\n  "
    }
    assertMatchesOracle("generated records", generated)
  }

  test("parsePage equals the regex parse on adversarial records") {
    val records = Seq(
      // missing, empty and repeated fields
      "no page here", "<page>", "<page><title>t</title>", "<page><id>1</id>", "<page><title></title><id></id>",
      "<page><title>a</title><title>b</title><id>1</id><id>2</id><text>x</text><text>y</text>",
      "<title>before</title><id>0</id><page><title>t</title><id>1</id>",
      // fields across line terminators: only the id stops at them
      "<page><title>a\nb</title><id>1\n</id><id>2</id>", "<page><title>t</title><id>1\r</id>",
      "<page><title>t</title><id>1 </id>\n<id>7</id>", "<page><title>t</title><id>1\u0085</id><id>8</id>",
      "<page><title>t</title><id>x y</id>", "<page><title>t</title><id><id>5</id>",
      "<page><title>t</title><id>1</id\n>", "<page><title>t</title><id>1<id>2\n</id>",
      // text element forms
      "<page><title>t</title><id>1</id><text>open only", "<page><title>t</title><id>1</id><text a='b'>x\ny</text>",
      "<page><title>t</title><id>1</id><textarea>y</textarea><text>z</text>",
      "<page><title>t</title><id>1</id><text", "<page><title>t</title><id>1</id><text/>x</text>",
      "<page><title>t</title><id>1</id><text></text>", "<page><title>t</title><id>1</id></text><text>x",
      // redirect word boundary
      "<page><title>t</title><id>1</id><redirect/>", "<page><title>t</title><id>1</id><redirection/>",
      "<page><title>t</title><id>1</id><redirect", "<page><title>t</title><id>1</id><redirect_x>",
      "<page><title>t</title><id>1</id><redirecté>", "<redirect/><page><title>t</title><id>1</id>",
      // the `<page` prefix
      "<pages><title>t</title><id>1</id>", "x<page><title><page></title><id>1</id>")
    assertMatchesOracle("adversarial records", records)
  }
}
