package graft.wiki

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

/** Parity tests: fixtures were produced by executing the reference
  * implementation (/root/reference/WikiExtractor.py) — see
  * scripts/gen_fixtures.py. Every clean/compact/normalizeTitle output must
  * match the reference byte-for-byte.
  */
class WikiMarkupSpec extends AnyFunSuite {

  private val fixtures: java.util.Map[String, Object] = {
    val in = getClass.getResourceAsStream("/wiki_fixtures.json")
    new ObjectMapper().readValue(in, classOf[java.util.Map[String, Object]])
  }

  private def cleanCases = fixtures.get("clean")
    .asInstanceOf[java.util.List[java.util.Map[String, Object]]].asScala

  test("clean() matches the reference on all fixtures") {
    for (c <- cleanCases) {
      val input = c.get("input").asInstanceOf[String]
      val expected = c.get("cleaned").asInstanceOf[String]
      assert(WikiMarkup.clean(input) == expected, s"\ninput: ${input}")
    }
  }

  test("compact(structure=false) matches the reference") {
    for (c <- cleanCases) {
      val input = c.get("input").asInstanceOf[String]
      val expected = c.get("compact_plain").asInstanceOf[java.util.List[String]].asScala.toSeq
      assert(WikiMarkup.compact(WikiMarkup.clean(input), structure = false) == expected,
        s"\ninput: ${input}")
    }
  }

  test("compact(structure=true) matches the reference") {
    for (c <- cleanCases) {
      val input = c.get("input").asInstanceOf[String]
      val expected = c.get("compact_structure").asInstanceOf[java.util.List[String]].asScala.toSeq
      assert(WikiMarkup.compact(WikiMarkup.clean(input), structure = true) == expected,
        s"\ninput: ${input}")
    }
  }

  test("normalizeTitle matches the reference") {
    val cases = fixtures.get("titles")
      .asInstanceOf[java.util.List[java.util.Map[String, String]]].asScala
    for (c <- cases)
      assert(WikiMarkup.normalizeTitle(c.get("input")) == c.get("normalized"),
        s"\ninput: ${c.get("input")}")
  }

  test("clean: \\b after a tag name is Java 17's Unicode word boundary") {
    // letters, digits, '_' and non-spacing marks (any script) continue the name
    assert(WikiMarkup.clean("x<bé>y</b>z") == "x<bé>yz")
    assert(WikiMarkup.clean("x<b\u0301>y") == "x<b\u0301>y")
    assert(WikiMarkup.clean("x<b\ud835\udc00>y") == "x<b\ud835\udc00>y")
    assert(WikiMarkup.clean("x<b_>y") == "x<b_>y")
    assert(WikiMarkup.clean("x<b->y") == "xy")
  }

  test("clean: tag whitespace and case folding are ASCII only") {
    assert(WikiMarkup.clean("x<\u000bb>y") == "xy")
    assert(WikiMarkup.clean("x<\u00a0b>y") == "x<\u00a0b>y")
    assert(WikiMarkup.clean("a<B >b</ B>c< / sup>d") == "abcd")
    assert(WikiMarkup.clean("x<\u212Abd>y</kbd>z") == "x<\u212Abd>yz") // Kelvin sign is not K
    assert(WikiMarkup.clean("x<\u017fpan>y") == "x<\u017fpan>y")    // long s is not s
  }

  test("clean: external links stop at the line terminators of regex '.'") {
    for (t <- Seq("\n", "\r", "\u0085", "\u2028", "\u2029"))
      assert(WikiMarkup.clean(s"[w a${t}b]") == s"[w a${t}b]", s"terminator ${t.head.toInt}")
    assert(WikiMarkup.clean("[w a\u000bb]") == "a\u000bb")
    assert(WikiMarkup.clean("[w a]]") == "a]")
    assert(WikiMarkup.clean("[w]x y]") == "y")
    assert(WikiMarkup.clean("[x]") == "")
  }

  test("clean: a discarded element joined by an earlier removal is discarded") {
    // removing <li>..</li> joins `<re` and `f>` into `<ref>`
    assert(WikiMarkup.clean("<re<li>x</li>f>y</ref>z") == "z")
  }

  test("keepLinks=true preserves anchors as <a> tags") {
    val out = WikiMarkup.clean("See [[Target|anchor]]s here", keepLinks = true)
    assert(out == "See <a href=\"Target\">anchors</a> here")
  }

  test("unescape handles named, decimal, hex, and invalid refs") {
    assert(WikiMarkup.unescape("&amp; &#65; &#x42; &bogus; &#xZZ;") == "& A B &bogus; &#xZZ;")
  }

  test("pageUrl matches reference get_url") {
    assert(WikiMarkup.pageUrl("http://en.wikipedia.org/wiki", "42") ==
      "http://en.wikipedia.org/wiki?curid=42")
  }

  test("normalizeTemplateName strips prefix, underscores, and capitalizes") {
    assert(WikiMarkup.normalizeTemplateName("Template:Infobox person") == "Infobox person")
    assert(WikiMarkup.normalizeTemplateName("template:infobox_person") == "Infobox person")
    assert(WikiMarkup.normalizeTemplateName("  convert ") == "Convert")
  }

  test("transclusionBody honors noinclude/includeonly/onlyinclude") {
    assert(WikiMarkup.transclusionBody("body<noinclude>docs</noinclude>") == "body")
    assert(WikiMarkup.transclusionBody("<includeonly>only</includeonly>") == "only")
    assert(WikiMarkup.transclusionBody("junk<onlyinclude>kept</onlyinclude>junk") == "kept")
    assert(WikiMarkup.transclusionBody("open<noinclude>to eof") == "open")
  }

  test("substituteParams handles positional, named, and defaults") {
    assert(WikiMarkup.substituteParams("Hello {{{1}}} and {{{who}}}!",
      Seq("first", "who = Ada")) == "Hello first and Ada!")
    assert(WikiMarkup.substituteParams("{{{x|fallback}}}", Seq.empty) == "fallback")
    assert(WikiMarkup.substituteParams("{{{x}}}", Seq.empty) == "{{{x}}}") // absent, no default
  }

  test("expandTemplates expands one level; unknown and nested fall to dropNested") {
    val lib = Map("Hello" -> "Hello {{{name|world}}}!", "Outer" -> "uses {{Inner}}")
    assert(WikiMarkup.expandTemplates("a {{Hello|name=Spark}} b", lib) == "a Hello Spark! b")
    assert(WikiMarkup.expandTemplates("a {{hello}} b", lib) == "a Hello world! b")
    // unknown stays in place — then clean() drops it like the reference
    assert(WikiMarkup.expandTemplates("a {{Nope|1}} b", lib) == "a {{Nope|1}} b")
    assert(WikiMarkup.clean(WikiMarkup.expandTemplates("a {{Nope|1}} b", lib)) == "a b")
    // one level only: the inner transclusion is not recursively expanded,
    // and clean() then removes it
    assert(WikiMarkup.expandTemplates("x {{Outer}} y", lib) == "x uses {{Inner}} y")
    assert(WikiMarkup.clean(WikiMarkup.expandTemplates("x {{Outer}} y", lib)) == "x uses y")
    // a second level resolves the nested transclusion; self-reference stays
    // bounded by the level count
    val lib2 = lib + ("Inner" -> "innermost") + ("Loop" -> "again {{Loop}}")
    assert(WikiMarkup.expandTemplates("x {{Outer}} y", lib2, levels = 2) == "x uses innermost y")
    assert(WikiMarkup.expandTemplates("{{Loop}}", lib2, levels = 3)
      == "again again again {{Loop}}")
    // args containing pipes inside links split correctly
    assert(WikiMarkup.expandTemplates("{{Hello|name=[[A|B]]}}", lib) == "Hello [[A|B]]!")
  }

  test("parser functions evaluate with expansion ON; magic words still drop") {
    // R28 continuation (round-14): the reference's grammar comment
    // (WikiExtractor.py:106) names {{#if:}}/msg: shapes it never
    // implements — with expansion ON we evaluate the common parser
    // functions (parity-PLUS; flag-off output is untouched because this
    // path only runs inside expandTemplates, which the flag gates).
    val lib = Map("Hello" -> "Hello {{{name|world}}}!")
    assert(WikiMarkup.expandTemplates("a {{#if: x | then | else}} b", lib)
      == "a then b")
    assert(WikiMarkup.expandTemplates("a {{#if: | then | else}} b", lib)
      == "a else b")
    assert(WikiMarkup.expandTemplates("a {{#if: x | then }} b", lib)
      == "a then b")
    assert(WikiMarkup.expandTemplates("a {{#if: | then }} b", lib) == "a  b")
    // msg: resolves as an explicit transclusion; msgnw: includes the
    // SOURCE without parameter substitution
    assert(WikiMarkup.expandTemplates("a {{msg:Hello}} b", lib)
      == "a Hello world! b")
    assert(WikiMarkup.expandTemplates("a {{msgnw:Hello}} b", lib)
      == "a Hello {{{name|world}}}! b")
    // magic words look like zero-arg templates; absent from the library
    // they stay in place and drop through clean()
    val magic = "a {{PAGENAME}} b"
    assert(WikiMarkup.expandTemplates(magic, lib) == magic)
    assert(WikiMarkup.clean(WikiMarkup.expandTemplates(magic, lib)) == "a b")
    // unknown #functions keep the unknown-template rule (#invoke is Lua,
    // out of scope by design — #time is implemented since round 15)
    val unk = "a {{#invoke: foo | bar}} b"
    assert(WikiMarkup.expandTemplates(unk, lib) == unk)
    assert(WikiMarkup.clean(WikiMarkup.expandTemplates(unk, lib)) == "a b")
    // nested inside a known template's argument: the known layer expands
    // in pass 1, the spliced parser function evaluates in pass 2
    val mixed = "{{Hello|name={{#expr: 1+1}}}}"
    assert(WikiMarkup.expandTemplates(mixed, lib, levels = 2) == "Hello 2!")
  }

  test("#ifeq / #switch / #expr semantics") {
    val lib = Map.empty[String, String]
    def x(s: String) = WikiMarkup.expandTemplates(s, lib)
    assert(x("{{#ifeq: 07 | 7 | eq | ne}}") == "eq")   // numeric compare
    assert(x("{{#ifeq: a | A | eq | ne}}") == "ne")    // string, case-sensitive
    assert(x("{{#switch: b | a = A | b = B | #default = D}}") == "B")
    assert(x("{{#switch: z | a = A | b = B | #default = D}}") == "D")
    assert(x("{{#switch: z | a = A | b = B | D}}") == "D") // implicit default
    assert(x("{{#switch: a | a | b = AB | c = C}}") == "AB") // fall-through
    assert(x("{{#switch: 2 | 2.0 = two | #default = D}}") == "two") // numeric
    assert(x("{{#expr: 1 + 2 * 3}}") == "7")
    assert(x("{{#expr: (1 + 2) * 3}}") == "9")
    assert(x("{{#expr: 7 mod 3}}") == "1")
    // PHP integer mod truncates both operands: |divisor| < 1 → mod by
    // zero ERROR SPAN, never an uncaught ArithmeticException in the UDF
    assert(x("{{#expr: 7 mod 0.5}}").contains("Expression error"))
    assert(x("{{#expr: 7 mod -0.9}}").contains("Expression error"))
    assert(x("{{#expr: 7 mod 1.9}}") == "0") // truncates to mod 1
    assert(x("{{#expr: 10 / 4}}") == "2.5")
    assert(x("{{#expr: 2.345 round 2}}") == "2.35")
    assert(x("{{#expr: -3 + 1}}") == "-2")
    assert(x("{{#expr: 3 > 2}}") == "1")
    assert(x("{{#expr: 3 < 2 or 1 = 1}}") == "1")
    assert(x("{{#expr: not 0 and 2 >= 2}}") == "1")
    assert(x("{{#expr: 1 / 0}}").contains("Expression error"))
    assert(x("{{#expr: banana}}").contains("Expression error"))
    // round-15 #time: PHP date vocabulary over an EXPLICIT datetime
    // (deterministic contract: no argument / unparsable → error span,
    // never page-render time)
    assert(x("{{#time: Y-m-d | 2024-02-29 }}") == "2024-02-29")
    assert(x("{{#time: j F Y | 2024-02-29 }}") == "29 February 2024")
    assert(x("{{#time: D N w | 2024-01-01 }}") == "Mon 1 1") // ISO Monday
    assert(x("{{#time: l | 2024-01-07 }}") == "Sunday")
    assert(x("{{#time: w | 2024-01-07 }}") == "0") // PHP w: Sunday = 0
    assert(x("{{#time: L t z | 2024-02-29 }}") == "1 29 59")
    assert(x("{{#time: H:i:s g A | 2024-01-01 13:05:09 }}") == "13:05:09 1 PM")
    assert(x("{{#time: g a | 2024-01-01 00:30:00 }}") == "12 am")
    assert(x("{{#time: U | 2024-01-01 00:00:00 }}") == "1704067200")
    assert(x("{{#time: Y-m-d H:i:s | @1704067200 }}") == "2024-01-01 00:00:00")
    assert(x("{{#time: c | 20240105100000 }}") == "2024-01-05T10:00:00+00:00")
    // escaping and literal pass-through (PHP's rule)
    assert(x("""{{#time: \Y=Y | 2024-01-01 }}""") == "Y=2024")
    assert(x("{{#time: Y? | 2024-01-01 }}") == "2024?")
    // the deterministic-contract error spans
    assert(x("{{#time: Y }}").contains("Invalid time"))
    assert(x("{{#time: Y | next Tuesday }}").contains("Invalid time"))
    assert(x("{{#time: Y | 2024-13-40 }}").contains("Invalid time"))
    // round-15 breadth: #ifexpr / #tag / case + pad magic words
    assert(x("{{#ifexpr: 2 > 1 | yes | no}}") == "yes")
    assert(x("{{#ifexpr: 1 = 2 | yes | no}}") == "no")
    assert(x("{{#ifexpr: | yes | no}}") == "no") // empty condition = false
    assert(x("{{#ifexpr: banana | yes | no}}").contains("Expression error"))
    assert(x("{{#tag: b | bold text}}") == "<b>bold text</b>")
    assert(x("{{#tag: span | hi | class=note}}") == "<span class=\"note\">hi</span>")
    assert(x("{{#tag: br}}") == "<br/>")
    assert(x("{{#tag: no tag | x}}") == "{{#tag: no tag | x}}") // bad name stays
    assert(x("{{lc: MiXeD Case}}") == "mixed case")
    assert(x("{{uc: MiXeD Case}}") == "MIXED CASE")
    assert(x("{{lcfirst: Foo Bar}}") == "foo Bar")
    assert(x("{{ucfirst: foo bar}}") == "Foo bar")
    assert(x("{{padleft: xyz | 5 }}") == "00xyz")
    assert(x("{{padleft: xyz | 6 | ab}}") == "abaxyz")
    assert(x("{{padleft: xyz | 2 }}") == "xyz")    // never truncates
    assert(x("{{padright: 7 | 3 }}") == "700")
    assert(x("{{padleft: x | banana }}") == "x")   // bad length: unchanged
    // args-first: inner template expands before the function evaluates
    val lib2 = Map("Coin" -> "", "Val" -> "5")
    assert(WikiMarkup.expandTemplates("{{#if: {{Coin}} | H | T}}", lib2) == "T")
    assert(WikiMarkup.expandTemplates("{{#expr: {{Val}} * 2}}", lib2) == "10")
  }

  test("#expr function vocabulary: unary keywords, constants, div") {
    def x(s: String) = WikiMarkup.expandTemplates(s, Map.empty[String, String])
    assert(x("{{#expr: abs -3}}") == "3")
    assert(x("{{#expr: trunc 3.9}}") == "3")
    assert(x("{{#expr: trunc -3.9}}") == "-3")   // toward zero, not floor
    assert(x("{{#expr: floor -3.1}}") == "-4")
    assert(x("{{#expr: ceil 3.1}}") == "4")
    assert(x("{{#expr: sqrt 16}}") == "4")
    assert(x("{{#expr: sqrt 2 round 3}}") == "1.414")
    assert(x("{{#expr: exp 0}}") == "1")
    assert(x("{{#expr: ln 1}}") == "0")
    assert(x("{{#expr: sin 0}}") == "0")
    assert(x("{{#expr: 10 div 4}}") == "2.5")
    assert(x("{{#expr: 10 div 0}}").contains("Expression error"))
    assert(x("{{#expr: pi round 4}}") == "3.1416")
    assert(x("{{#expr: e > 2.7}}") == "1")
    // prefix-unary binding: the function takes the following unary
    // expression, not the whole sum
    assert(x("{{#expr: 2 * abs -3}}") == "6")
    assert(x("{{#expr: ceil 2.5 + 1}}") == "4")  // ceil(2.5) + 1
    // e-notation numbers still win over the constant
    assert(x("{{#expr: 2e3 + 1}}") == "2001")
  }

  test("plural/ns magic words and the pipe/equals escapes") {
    def x(s: String) = WikiMarkup.expandTemplates(s, Map.empty[String, String])
    // PLURAL — English CLDR: integer 1 (no visible fraction) is 'one'
    assert(x("{{PLURAL: 1 | page | pages}}") == "page")
    assert(x("{{plural: 2 | page | pages}}") == "pages")
    assert(x("{{PLURAL: 0 | page | pages}}") == "pages")
    assert(x("{{PLURAL: 1.0 | page | pages}}") == "pages") // v > 0 → other
    assert(x("{{PLURAL: 1,001 | page | pages}}") == "pages")
    assert(x("{{PLURAL: banana | page | pages}}") == "pages") // lenient
    assert(x("{{PLURAL: 1 | page}}") == "page") // single form serves both
    assert(x("{{PLURAL: 5 | page}}") == "page")
    // ns — canonical names by id and by (aliased) name
    assert(x("{{ns: 10}}") == "Template")
    assert(x("{{ns: 14}}") == "Category")
    assert(x("{{ns: 0}}") == "")
    assert(x("{{ns: -1}}") == "Special")
    assert(x("{{ns: 99}}") == "") // unregistered id → empty
    assert(x("{{ns: image}}") == "File")
    assert(x("{{ns: user_talk}}") == "User talk")
    assert(x("{{ns: nosuch}}") == "{{ns: nosuch}}") // unknown name stays
    // the structural-character escapes
    assert(x("a {{!}} b") == "a | b")
    assert(x("a {{=}} b") == "a = b")
    // args-first composition: {{!}} from a parameter side
    val lib = Map("N" -> "1")
    assert(WikiMarkup.expandTemplates("{{PLURAL: {{N}} | one | many}}", lib)
      == "one")
  }

  test("string parser functions and url/number magic words") {
    def x(s: String) = WikiMarkup.expandTemplates(s, Map.empty[String, String])
    // #len — code points of the trimmed arg
    assert(x("{{#len: Icecream }}") == "8")
    assert(x("{{#len:}}") == "0")
    // #pos — 0-based, offset-aware, empty when absent or needle empty
    assert(x("{{#pos: Icecream | cream}}") == "3")
    assert(x("{{#pos: Icecream | banana}}") == "")
    assert(x("{{#pos: abcabc | c | 3}}") == "5")
    assert(x("{{#pos: abc |}}") == "")
    // #sub — mb_substr: negative start/length, intval collapse
    assert(x("{{#sub: Icecream | 3}}") == "cream")
    assert(x("{{#sub: Icecream | 0 | 3}}") == "Ice")
    assert(x("{{#sub: Icecream | -3}}") == "eam")
    assert(x("{{#sub: Icecream | 2 | -3}}") == "ecr")
    assert(x("{{#sub: Icecream | 2 | banana}}") == "")
    // #titleparts — slash segments, 1-based first, negative forms
    assert(x("{{#titleparts: Talk:Foo/Bar/Baz | 1 }}") == "Talk:Foo")
    assert(x("{{#titleparts: Talk:Foo/Bar/Baz | 1 | 2 }}") == "Bar")
    assert(x("{{#titleparts: Talk:Foo/Bar/Baz | | 2 }}") == "Bar/Baz")
    assert(x("{{#titleparts: Talk:Foo/Bar/Baz | -1 }}") == "Talk:Foo/Bar")
    assert(x("{{#titleparts: A/B/C | 1 | -1 }}") == "C")
    // #iferror — branches on the #expr family's error element
    assert(x("{{#iferror: {{#expr: 1/0}} | fallback}}") == "fallback")
    assert(x("{{#iferror: {{#expr: 1+1}} | fallback}}") == "2")
    assert(x("{{#iferror: {{#expr: 1/0}} }}") == "") // no fallback → empty
    assert(x("{{#iferror: ok }}") == "ok")
    assert(x("{{#iferror: {{#expr: 2*3}} | bad | good}}") == "good")
    // urlencode — QUERY/PATH/WIKI unreserved sets, UTF-8 percent bytes
    assert(x("{{urlencode: x y/z?}}") == "x+y%2Fz%3F")
    assert(x("{{urlencode: x y/z? | PATH}}") == "x%20y%2Fz%3F")
    assert(x("{{urlencode: x y/z? | WIKI}}") == "x_y/z%3F")
    assert(x("{{urlencode: é}}") == "%C3%A9")
    // formatnum — en thousands grouping; R strips; non-numeric unchanged
    assert(x("{{formatnum: 1234567.891}}") == "1,234,567.891")
    assert(x("{{formatnum: -1234}}") == "-1,234")
    assert(x("{{formatnum: 123}}") == "123")
    assert(x("{{formatnum: 1,234,567 | R}}") == "1234567")
    assert(x("{{formatnum: banana}}") == "banana")
    // flag-off (the default pipeline path) DROPS the spans like any
    // other template — never evaluates them — preserving the byte-parity
    // contract the reference head-to-head pins
    val raw = "a {{#len: xyz}} {{urlencode: b c}} d"
    val cleaned = WikiMarkup.clean(raw)
    assert(!cleaned.contains("3") && !cleaned.contains("%") &&
      !cleaned.contains("b+c"), cleaned)
  }

  test("clean is linear on unbalanced delimiters: 1 MB of stray closes or unclosed opens") {
    // a rescan to the next delimiter per consumed one is quadratic: minutes here
    for (page <- Seq("}}" * 500000, "{{" * 500000, "|}" * 500000, "{|" * 500000)) {
      val t0 = System.nanoTime()
      val out = WikiMarkup.clean(page)
      val secs = (System.nanoTime() - t0) / 1e9
      assert(out == page, s"${page.take(2)}: unbalanced delimiters are kept")
      assert(secs < 2.0, f"${page.take(2)} x 500000 took $secs%.2f s")
    }
  }
}
