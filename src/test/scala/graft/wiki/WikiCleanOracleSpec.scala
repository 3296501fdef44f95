package graft.wiki

import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

import graft.sources.WikiXmlSource

/** Differential check: `WikiMarkup.clean`, whose tag, element and
  * external-link steps are hand scans, must give exactly the bytes of
  * `CleanOracle.clean`, the same steps as regex passes, for both
  * `keepLinks` values.
  */
class WikiCleanOracleSpec extends AnyFunSuite {

  private def show(s: String): String =
    s.flatMap(c => if (c >= ' ' && c < 0x7f) c.toString else f"\\u${c.toInt}%04x")

  private def assertMatchesOracle(what: String, inputs: Seq[String]): Unit =
    for (keepLinks <- Seq(false, true)) {
      val bad = inputs.filter(x => WikiMarkup.clean(x, keepLinks) != CleanOracle.clean(x, keepLinks))
      for (x <- bad.headOption)
        fail(s"$what, keepLinks=$keepLinks: ${bad.size} of ${inputs.size} differ; first: ${show(x)}\n" +
          s"  clean:  ${show(WikiMarkup.clean(x, keepLinks))}\n" +
          s"  oracle: ${show(CleanOracle.clean(x, keepLinks))}")
    }

  test("clean equals the regex oracle on the clean fixtures and the fixture dumps") {
    val fixtures = new ObjectMapper().readValue(
      getClass.getResourceAsStream("/wiki_fixtures.json"), classOf[java.util.Map[String, Object]])
    val cleanInputs = fixtures.get("clean").asInstanceOf[java.util.List[java.util.Map[String, Object]]]
      .asScala.map(_.get("input").asInstanceOf[String]).toSeq
    val dumpTexts = Seq("/wiki_e2e_dump.xml", "/wiki_incub_dump.xml").flatMap { res =>
      val dump = new String(getClass.getResourceAsStream(res).readAllBytes(), UTF_8)
      dump.split("</page>", -1).toSeq.flatMap(WikiXmlSource.parsePage).map(_.text)
    }
    assert(cleanInputs.size >= 20 && dumpTexts.size >= 5)
    assertMatchesOracle("wiki_fixtures.json", cleanInputs)
    assertMatchesOracle("fixture dumps", dumpTexts)
  }

  test("clean equals the regex oracle on 10,000 generated pages") {
    val gen = new WikiPageGen(seed = 20261019L)
    val pages = Seq.fill(10000)(gen.page())
    assertMatchesOracle("generated pages", pages)
  }

  test("clean equals the regex oracle on adversarial markup") {
    val cases = Seq(
      // mixed-case and spaced tags
      "a<B >b</ B>c", "a< / sup>b<SUP>c< sup\n>d", "x<\tbr/>y<BR\n / >z<hr/ >w", "<Ref name=q / >t",
      // unterminated tags
      "a<b", "a<b c", "a</b", "a<br", "a<br/", "a<!-- open", "a<ref>open", "a<math>x", "<span>x<",
      // overlapping spans, same pattern and across patterns
      "<i <b>x</b>", "<b <b>x</b>", "<br <br/>x", "<i <br/> x>", "<b x/>y>z",
      // comments that overlap tags and each other
      "<!-- <b -->x>y", "<b <!-- x>y -->z", "<!--<!-->a-->b", "<!-- a --> <!-- b -->", "<!-->x-->",
      // tags inside discarded elements, and nested elements
      "a<ref>b<b>c</b>d</ref>e", "a<table><tr><td>x</td></tr></table>b", "<ul><li>a<li>b</ul>c",
      "<re<li>x</li>f>y</ref>z", "<math>a</math> <math>a</math> <MATH >b</math >", "<code x>y</code>",
      // anchors are ignored tags only without keepLinks
      "x<a href=\"y\">z</A>w",
      // word boundary after the tag name
      "x<bé>y</b>z", "x<b\u0301>y", "x<b->y", "x<b_>y", "x<b\ud835\udc00>y", "x<h1>y</h1>", "<bigger>x",
      // ASCII-only whitespace and case folding
      "x<\u000bb>y", "x<\u00a0b>y", "x<\u212Abd>y</kbd>", "x<\u017fpan>y", "x<\u00a0/b>y",
      // external links
      "[w a]]", "[w a\u2028b]", "[x]", "[w a b]", "[w]x y]", "[w a\nb]", "[w a\rb]", "[w a\u0085b]",
      "[w a\u2029b]", "[w\u2028 a]", "[é a]", "[_ a]", "[w ]", "[[w a]", "[w [v b] c]", "[w a] [v b]",
      "[http://x.org/y label] [http://x.org/z]", "[w a\u000bb]",
      // escaped forms, unescaped twice before the tag step
      "&lt;b&gt;x&lt;/b&gt;", "&amp;lt;i&amp;gt;y", "&lt;!-- c --&gt;z",
      // character references: forms, invalid numbers, ASCII-only names
      "&#x41;&#X41;&#;&;&#65&#xZZ;", "&#9999999999;&#55296;&#0;", "&&amp;;&amp;amp;amp;", "&nbsp;&Nbsp;&_x;&é;",
      "&#x;&#65;;&#a;&amp", "&#x1F600;&#128512;",
      // runs of spaces and dots, punctuation-only lines
      "a  b   c    ", " . .. ... .... .....", "\n.\n", "\n\n\n\n", "\n,;\n\n-\n", "x\n-\ny\n é \nz",
      "a\r\n.\r\n", "\n\u2028\n", "\n_\n", "\n..\n..\n") ++
      // unbalanced and overlapping template and table delimiters, alone and
      // repeated (sizes the quadratic regex scan of the oracle still handles)
      Seq("{{{", "}}}", "{|}", "{{}}}}{{{{", "x}}y{{z", "{{{x}}}", "{|x|}|}", "|}{|", "{{|}}")
        .flatMap(s => Seq(s, s * 50, s * 400))
    assertMatchesOracle("adversarial cases", cases)
  }
}
