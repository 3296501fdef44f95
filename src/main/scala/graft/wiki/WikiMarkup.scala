package graft.wiki

import java.util.regex.{Matcher, Pattern}
import scala.collection.mutable
import scala.util.matching.Regex

/** Wiki-markup cleaning with the exact semantics of the reference
  * (/root/reference/WikiExtractor.py), re-implemented from scratch as pure
  * Scala over a single string — the unit of parallelism is the document, so
  * these run embarrassingly parallel inside Spark column expressions.
  *
  * Parity is fixture-tested: `src/test/resources/wiki_fixtures.json` holds
  * input→output pairs produced by executing the reference implementation
  * (see scripts/gen_fixtures.py), including its quirks:
  *   - single-pass link expansion (inner `[[..]]` first, enclosing links
  *     removed afterwards; WikiExtractor.py:344-349)
  *   - the literal two-char "Â«"/"Â»" guillemet replacement
  *     (WikiExtractor.py:436 — mojibake preserved for parity)
  *   - the space-punctuation patterns that match a literal sequence rather
  *     than a char class (WikiExtractor.py:448-449)
  *   - unbalanced `{{`/`}}` handling (WikiExtractor.py:274-327)
  */
object WikiMarkup {

  /** Namespaces whose links/pages are kept (WikiExtractor.py:89). */
  val acceptedNamespaces: Set[String] = Set("w")

  /** Elements whose entire content is dropped (WikiExtractor.py:94). */
  val discardElements: Seq[String] = Seq(
    "gallery", "timeline", "noinclude", "pre",
    "table", "tr", "td", "th", "caption",
    "form", "input", "select", "option", "textarea",
    "ul", "li", "ol", "dl", "dt", "dd", "menu", "dir",
    "ref", "references", "img", "imagemap", "source")

  val selfClosingTags: Seq[String] = Seq("br", "hr", "nobr", "ref", "references")

  /** Tags stripped but whose content is kept (WikiExtractor.py:153);
    * "a" is appended when links are not kept, matching the default CLI path.
    */
  val ignoredTags: Seq[String] = Seq(
    "b", "big", "blockquote", "center", "cite", "div", "em",
    "font", "h1", "h2", "h3", "h4", "hiero", "i", "kbd", "nowiki",
    "p", "plaintext", "s", "small", "span", "strike", "strong",
    "sub", "sup", "tt", "u", "var")

  val placeholderTags: Seq[(String, String)] = Seq("math" -> "formula", "code" -> "codice")

  // --- compiled patterns (thread-safe; Matchers are per-call) ---
  private val discardPats: Seq[(String, Pattern)] = discardElements.map(t => (t,
    Pattern.compile(s"<\\s*$t\\b[^>]*>.*?<\\s*/\\s*$t>", Pattern.DOTALL | Pattern.CASE_INSENSITIVE)))
  private val placeholderPats: Seq[(String, Pattern, String)] = placeholderTags.map { case (t, repl) =>
    (t, Pattern.compile(s"<\\s*$t(\\s*| [^>]+?)>.*?<\\s*/\\s*$t\\s*>",
      Pattern.DOTALL | Pattern.CASE_INSENSITIVE), repl)
  }
  private val preformatted = Pattern.compile("^ .*?$", Pattern.MULTILINE)
  private val externalLinkNoAnchor = Pattern.compile("\\[\\w+[&\\]]*\\]")
  private val boldItalic = new Regex("'''''([^']*?)'''''")
  private val bold = new Regex("'''(.*?)'''")
  private val italicQuote = new Regex("''\"(.*?)\"''")
  private val italic = new Regex("''([^']*)''")
  private val quoteQuote = new Regex("\"\"(.*?)\"\"")
  private val wikiLink = new Regex("\\[\\[([^\\[]*?)(?:\\|([^\\[]*?))?\\]\\](\\w*)")
  private val parametrizedLink = Pattern.compile("\\[\\[.*?\\]\\]")
  private val magicWords = Pattern.compile("__[A-Z]+__")
  private val sectionRe = Pattern.compile("(==+)\\s*(.*?)\\s*\\1")
  private val wsUnderscore = Pattern.compile("[\\s_]+")
  private val titleColon = Pattern.compile("([^:]*):(\\s*)(\\S(?:.*))")

  /** Python-style capitalize: first char upper, rest lower. */
  private def pyCapitalize(s: String): String =
    if (s.isEmpty) s else s.substring(0, 1).toUpperCase + s.substring(1).toLowerCase

  /** Canonical page title (WikiExtractor.py:163-197). */
  def normalizeTitle(title0: String,
                     namespaces: Set[String] = acceptedNamespaces): String = {
    var title = title0.dropWhile(c => c == ' ' || c == '_')
      .reverse.dropWhile(c => c == ' ' || c == '_').reverse
    title = wsUnderscore.matcher(title).replaceAll(" ")
    val m = titleColon.matcher(title)
    if (m.lookingAt()) {
      val prefix = m.group(1)
      val optionalWhitespace = if (m.group(2).nonEmpty) " " else ""
      val rest = m.group(3)
      val ns = pyCapitalize(prefix)
      if (namespaces.contains(ns)) ns + ":" + pyCapitalize(rest)
      else pyCapitalize(prefix) + ":" + optionalWhitespace + rest
    } else pyCapitalize(title)
  }

  /** HTML/XML character-reference unescaping (WikiExtractor.py:205-220):
    * unknown or invalid references are left untouched. The references are
    * the matches of `&#?(\w+);` (ASCII `\w`), found by a scan over the `&`
    * positions.
    */
  def unescape(text: String): String = {
    var p = text.indexOf('&')
    if (p < 0) return text
    val n = text.length
    var sb: java.lang.StringBuilder = null
    var cur = 0
    while (p >= 0) {
      val q = if (p + 1 < n && text.charAt(p + 1) == '#') p + 2 else p + 1
      var r = q
      while (r < n && isWordChar(text.charAt(r))) r += 1
      var next = p + 1
      if (r > q && r < n && text.charAt(r) == ';') {
        if (sb == null) sb = new java.lang.StringBuilder(n)
        sb.append(text, cur, p).append(characterRef(text.substring(p, r + 1), text.substring(q, r)))
        cur = r + 1
        next = cur
      }
      p = text.indexOf('&', next)
    }
    if (sb == null) text else sb.append(text, cur, n).toString
  }

  /** The character a reference `whole` with name or number `code` stands for. */
  private def characterRef(whole: String, code: String): String =
    try {
      if (whole.charAt(1) == '#') {
        val cp = if (whole.charAt(2) == 'x') Integer.parseInt(code.substring(1), 16)
                 else Integer.parseInt(code)
        new String(Character.toChars(cp))
      } else Entities.name2codepoint.get(code) match {
        case Some(cp) => new String(Character.toChars(cp))
        case None => whole
      }
    } catch { case _: Exception => whole }

  /** Nesting-aware span removal for literal delimiters such as `{{`/`}}`
    * and `{|`/`|}` (WikiExtractor.py:274-327), with the reference's
    * unbalanced-input behavior (fixture-verified): a stray close is kept; an
    * open left unclosed at EOF is kept unless some close appeared after it,
    * in which case everything up to the last close is dropped.
    */
  def dropNested(text: String, open: String, close: String): String = {
    val spans = nestedSpans(text, open, close, closeTrailing = true)
    if (spans.isEmpty) text else dropSpans(spans, text)
  }

  /** The reference's nesting scan over two literal delimiters: the
    * top-level `open..close` spans, in order. Each delimiter's next
    * position is found with `indexOf` and kept until the scan passes it,
    * so the scan is linear however unbalanced the text is. Only the depth
    * and the outermost open's start matter, so no stack is kept. With
    * `closeTrailing`, an open still unclosed at the end spans to the last
    * close after it, if any ([[dropNested]]'s rule).
    */
  private def nestedSpans(text: String, open: String, close: String,
                          closeTrailing: Boolean): mutable.ArrayBuffer[(Int, Int)] = {
    require(open.nonEmpty && close.nonEmpty, "delimiters must be non-empty")
    val spans = mutable.ArrayBuffer.empty[(Int, Int)]
    var nextOpen = text.indexOf(open)
    var nextClose = text.indexOf(close)
    var depth = 0
    var outer = -1 // start of the outermost open still unclosed
    var lastCloseEnd = -1
    while (nextOpen >= 0 || nextClose >= 0) {
      val pos =
        if (nextOpen >= 0 && (nextClose < 0 || nextOpen < nextClose)) {
          if (depth == 0) outer = nextOpen
          depth += 1
          nextOpen + open.length
        } else {
          val end = nextClose + close.length
          if (depth > 0) {
            depth -= 1
            if (depth == 0) spans += ((outer, end))
          }
          lastCloseEnd = end
          end
        }
      // a delimiter overlapping the one just consumed is searched again
      if (nextOpen >= 0 && nextOpen < pos) nextOpen = text.indexOf(open, pos)
      if (nextClose >= 0 && nextClose < pos) nextClose = text.indexOf(close, pos)
    }
    if (closeTrailing && depth > 0 && lastCloseEnd > outer) spans += ((outer, lastCloseEnd))
    spans
  }

  /** Remove the given (start, end) spans (WikiExtractor.py:329-338),
    * including its tolerance of overlapping spans (cursor moves to each
    * span's end unconditionally).
    */
  private def dropSpans(spans: collection.Seq[(Int, Int)], text: String): String = {
    val sb = new java.lang.StringBuilder(text.length)
    var cur = 0
    for ((s, e) <- spans) {
      if (s > cur) sb.append(text, cur, s)
      cur = e
    }
    if (cur < text.length) sb.append(text, cur, text.length)
    sb.toString
  }

  /** Link expansion callback (WikiExtractor.py:352-366). */
  private def anchorFor(link: String, anchorOpt: Option[String], trail: String,
                        keepLinks: Boolean, namespaces: Set[String]): String = {
    val colon = link.indexOf(':')
    if (colon > 0 && !namespaces.contains(link.substring(0, colon))) ""
    else {
      val anchor = anchorOpt.filter(_ != null).getOrElse(link) + trail
      if (keepLinks) s"""<a href="$link">$anchor</a>""" else anchor
    }
  }

  private def patSub(p: Pattern, text: String, repl: String): String =
    p.matcher(text).replaceAll(repl)

  /** [[patSub]], run only when the text holds `literal`, which every match
    * of `p` contains.
    */
  private def patSubIf(literal: String, p: Pattern, text: String, repl: String): String =
    if (text.contains(literal)) patSub(p, text, repl) else text

  /** `re`'s matches replaced by `repl` of their first group, run only when
    * the text holds `literal`, which every match of `re` contains.
    */
  private def groupSubIf(literal: String, re: Regex, text: String)(repl: String => String): String =
    if (text.contains(literal)) re.replaceAllIn(text, m => Regex.quoteReplacement(repl(m.group(1))))
    else text

  /** ASCII `[A-Za-z0-9]`: the characters of every tag name. */
  private def isAsciiAlnum(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')

  /** Java regex `\w` without UNICODE_CHARACTER_CLASS: `[a-zA-Z_0-9]`. */
  private def isWordChar(c: Char): Boolean = c == '_' || isAsciiAlnum(c)

  /** Java regex `\s` without UNICODE_CHARACTER_CLASS: ASCII whitespace only. */
  private def isRegexSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000b' || c == '\f' || c == '\r'

  /** The characters Java regex `.` does not match without DOTALL. */
  private def isLineTerminator(c: Char): Boolean =
    c == '\n' || c == '\r' || c == '\u0085' || c == '\u2028' || c == '\u2029'

  private def skipSpaces(text: String, from: Int): Int = {
    var i = from
    while (i < text.length && isRegexSpace(text.charAt(i))) i += 1
    i
  }

  private def skipAsciiAlnum(text: String, from: Int): Int = {
    var i = from
    while (i < text.length && isAsciiAlnum(text.charAt(i))) i += 1
    i
  }

  /** Whether `name` (lower-case ASCII) starts at `at`, ASCII case folded as
    * CASE_INSENSITIVE does without UNICODE_CASE.
    */
  private def startsWithName(text: String, at: Int, name: String): Boolean = {
    if (at + name.length > text.length) return false
    var i = 0
    while (i < name.length) {
      val c = text.charAt(at + i)
      if (!isAsciiAlnum(c) || (c | 0x20).toChar != name.charAt(i)) return false
      i += 1
    }
    true
  }

  /** Index of the name in `names` that is exactly `text[at, at + len)`. */
  private def nameIndex(names: Array[String], text: String, at: Int, len: Int): Int = {
    var k = 0
    while (k < names.length) {
      if (names(k).length == len && startsWithName(text, at, names(k))) return k
      k += 1
    }
    -1
  }

  /** Java 17 regex `\b` right after a tag name: the next code point is not a
    * word character, which here means `Character.isLetterOrDigit`, `_`, or a
    * non-spacing mark (its base is the name's last letter). So neither `<bé>`
    * nor `<b` + U+0301 opens `b`.
    */
  private def wordBoundaryAfterName(text: String, at: Int): Boolean =
    at >= text.length || {
      val cp = text.codePointAt(at)
      !(cp == '_' || Character.isLetterOrDigit(cp) ||
        Character.getType(cp) == Character.NON_SPACING_MARK)
    }

  private val selfClosingNames: Array[String] = selfClosingTags.toArray
  private val ignoredNamesKeep: Array[String] = ignoredTags.toArray
  private val ignoredNamesNoKeep: Array[String] = (ignoredTags :+ "a").toArray

  /** Drops comments, self-closing tags and ignored open/close tags in one
    * pass over the `<` positions, with exactly the result of collecting
    * the matches of `<!--.*?-->` (DOTALL), of `<\s*t\b[^/]*` + `/\s*>`
    * per self-closing `t`, and of `<\s*t\b[^>]*>` then `<\s*` + `/\s*t>`
    * per ignored `t` (all CASE_INSENSITIVE), each pattern by its own
    * `find()` loop, then sorting the spans stably by start and applying
    * `dropSpans`.
    *
    * At one `<` at most one of those patterns can match (a `\b`-bounded
    * name is the whole ASCII-alnum run after `<\s*`, the names are
    * distinct, and comment/close/open start differently), so spans come
    * out already in sorted order and are dropped as they are found. Each
    * pattern keeps its own resume point, as `find()` does: a match counts
    * only at or after the end of that pattern's previous match.
    */
  private def dropTags(text: String, keepLinks: Boolean): String = {
    var p = text.indexOf('<')
    if (p < 0) return text
    val n = text.length
    val ignored = if (keepLinks) ignoredNamesKeep else ignoredNamesNoKeep
    // pattern ids: 0 comment, 1 + i self-closing i, 1 + nSelf + 2j / +1 ignored j open/close
    val nSelf = selfClosingNames.length
    val resume = new Array[Int](1 + nSelf + 2 * ignored.length)
    // first '>', '/' and "-->" at or after the last search start; searches
    // start at increasing offsets, so each is found once per occurrence
    var gt = -1
    var slash = -1
    var commentEnd = -1
    var sb: java.lang.StringBuilder = null
    var cur = 0
    while (p >= 0) {
      var id = -1
      var end = -1
      if (text.startsWith("<!--", p)) {
        if (commentEnd < p + 4) {
          val i = text.indexOf("-->", p + 4)
          commentEnd = if (i < 0) n else i
        }
        if (commentEnd < n) { id = 0; end = commentEnd + 3 }
      } else {
        val q = skipSpaces(text, p + 1)
        if (q < n && text.charAt(q) == '/') {
          val r = skipSpaces(text, q + 1)
          val e = skipAsciiAlnum(text, r)
          if (e < n && text.charAt(e) == '>') {
            val j = nameIndex(ignored, text, r, e - r)
            if (j >= 0) { id = 2 + nSelf + 2 * j; end = e + 1 }
          }
        } else {
          val e = skipAsciiAlnum(text, q)
          if (e > q && wordBoundaryAfterName(text, e)) {
            val i = nameIndex(selfClosingNames, text, q, e - q)
            if (i >= 0) {
              if (slash < e) {
                val s = text.indexOf('/', e)
                slash = if (s < 0) n else s
              }
              if (slash < n) {
                val close = skipSpaces(text, slash + 1)
                if (close < n && text.charAt(close) == '>') { id = 1 + i; end = close + 1 }
              }
            } else {
              val j = nameIndex(ignored, text, q, e - q)
              if (j >= 0) {
                if (gt < e) {
                  val g = text.indexOf('>', e)
                  gt = if (g < 0) n else g
                }
                if (gt < n) { id = 1 + nSelf + 2 * j; end = gt + 1 }
              }
            }
          }
        }
      }
      if (id >= 0 && p >= resume(id)) {
        resume(id) = end
        if (sb == null) sb = new java.lang.StringBuilder(n)
        if (p > cur) sb.append(text, cur, p)
        cur = end // dropSpans: the cursor moves to each span's end, even backwards
      }
      p = text.indexOf('<', p + 1)
    }
    if (sb == null) text
    else {
      if (cur < n) sb.append(text, cur, n)
      sb.toString
    }
  }

  /** Whether the text holds `<`, ASCII whitespace, then `name` (ASCII case
    * folded): the prefix every match of that element's pattern starts with.
    */
  private def holdsElement(text: String, name: String): Boolean = {
    var p = text.indexOf('<')
    while (p >= 0) {
      if (startsWithName(text, skipSpaces(text, p + 1), name)) return true
      p = text.indexOf('<', p + 1)
    }
    false
  }

  /** `c{min,}` replaced by `repl`: every run of at least `min` `c`s. */
  private def collapseRuns(text: String, c: Char, min: Int, repl: String): String = {
    val n = text.length
    var sb: java.lang.StringBuilder = null
    var cur = 0
    var p = text.indexOf(c)
    while (p >= 0) {
      var e = p + 1
      while (e < n && text.charAt(e) == c) e += 1
      if (e - p >= min) {
        if (sb == null) sb = new java.lang.StringBuilder(n)
        sb.append(text, cur, p).append(repl)
        cur = e
      }
      p = text.indexOf(c, e)
    }
    if (sb == null) text else sb.append(text, cur, n).toString
  }

  /** `\n\W+?\n` replaced by `\n`, as a scan over the `\n` positions: the
    * shortest run of non-word characters (`\n` among them) after a `\n`
    * that is followed by another `\n`.
    */
  private def dropPunctOnlyLines(text: String): String = {
    val n = text.length
    var sb: java.lang.StringBuilder = null
    var cur = 0
    var p = text.indexOf('\n')
    while (p >= 0) {
      var end = -1
      var j = p + 1
      while (end < 0 && j + 1 < n && !isWordChar(text.charAt(j))) {
        if (text.charAt(j + 1) == '\n') end = j + 2
        j += 1
      }
      if (end >= 0) {
        if (sb == null) sb = new java.lang.StringBuilder(n)
        sb.append(text, cur, p).append('\n')
        cur = end
      }
      p = text.indexOf('\n', if (end >= 0) end else p + 1)
    }
    if (sb == null) text else sb.append(text, cur, n).toString
  }

  /** `\[\w+.*? (.*?)\]` replaced by its group, as a linear scan: after `[`
    * an ASCII `\w` character, then the first space, then the first `]`
    * after it, neither past a line terminator (`.` stops there). The
    * group is the text between that space and that `]`.
    */
  private def expandExternalLinks(text: String): String = {
    var p = text.indexOf('[')
    if (p < 0) return text
    val n = text.length
    // first space-or-terminator and first ']'-or-terminator at or after the
    // last search start (n: none); search starts only increase
    var space = -1
    var bracket = -1
    def firstOf(c: Char, from: Int): Int = {
      var i = from
      while (i < n && text.charAt(i) != c && !isLineTerminator(text.charAt(i))) i += 1
      i
    }
    var sb: java.lang.StringBuilder = null
    var cur = 0
    while (p >= 0) {
      var next = p + 1
      if (p + 1 < n && { val c = text.charAt(p + 1); c == '_' || isAsciiAlnum(c) }) {
        if (space < p + 1) space = firstOf(' ', p + 1)
        if (space < n && text.charAt(space) == ' ') {
          if (bracket < space + 1) bracket = firstOf(']', space + 1)
          if (bracket < n && text.charAt(bracket) == ']') {
            if (sb == null) sb = new java.lang.StringBuilder(n)
            sb.append(text, cur, p).append(text, space + 1, bracket)
            cur = bracket + 1
            next = cur
          }
        }
      }
      p = text.indexOf('[', next)
    }
    if (sb == null) text
    else sb.append(text, cur, n).toString
  }

  /** Full markup → text cleaning (WikiExtractor.py:368-456). `namespaces`
    * governs which `[[Ns:...]]` links survive link expansion (threaded
    * from the pipeline config so a configured namespace set applies end
    * to end, not just to page filtering).
    *
    * The contract is the reference's step order and its regexes' Java 17
    * semantics; three steps are hand scans that give the same bytes as the
    * regex passes they replace (the regex form is kept as a test oracle):
    *  1. `{{..}}`, then `{|..|}` (dropNested, an `indexOf` scan over the
    *     literal delimiters); wiki links; other `[[..]]`;
    *  1. external links: a linear scan for `\[\w+.*? (.*?)\]`, then
    *     `\[\w+[&\]]*\]` as a regex;
    *  1. bold/italic/quotes; `unescape` twice;
    *  1. comments, self-closing and ignored tags: one pass over the `<`
    *     positions yielding the span list of the per-pattern `find()`
    *     loops (comment, self-closing tags, then each ignored tag's open
    *     and close pattern; each pattern resumes after its own previous
    *     match), stably sorted by start and dropped with `dropSpans`;
    *  1. discarded elements, then `math`/`code` placeholders: each regex
    *     runs only when the current text holds `<`, ASCII whitespace and
    *     the element name, so a name joined by an earlier removal counts;
    *  1. guillemets, preformatted lines, final whitespace/punctuation.
    * Entity references, runs of spaces and dots, and punctuation-only lines
    * are scans too. A regex pass whose every match contains a literal (`[[`,
    * `[`, `'''''`, `'''`, `''"`, `''`, `""`, `__`) runs only when the current
    * text holds it.
    * Regex semantics kept by the scans: `\s` and case folding are ASCII
    * only; `\b` after a tag name treats `Character.isLetterOrDigit`, `_`
    * and non-spacing marks as word characters; `[^>]*` and `[^/]*` cross
    * newlines; `.` stops at `\n`, `\r`, `\u0085`, `\u2028`, `\u2029`.
    */
  def clean(text0: String, keepLinks: Boolean = false,
            namespaces: Set[String] = acceptedNamespaces): String = {
    var text = text0

    // Transclusions + tables (nesting-aware).
    text = dropNested(text, "{{", "}}")
    text = dropNested(text, "{|", "|}")

    // Links: expand innermost in one pass, then drop remaining enclosing.
    if (text.contains("[[")) {
      text = wikiLink.replaceAllIn(text, m =>
        Regex.quoteReplacement(
          anchorFor(m.group(1), Option(m.group(2)), m.group(3), keepLinks, namespaces)))
      text = patSubIf("[[", parametrizedLink, text, "")
    }

    // External links.
    text = expandExternalLinks(text)
    text = patSubIf("[", externalLinkNoAnchor, text, "")

    // Bold / italic / quotes.
    text = groupSubIf("'''''", boldItalic, text)(identity)
    text = groupSubIf("'''", bold, text)(identity)
    text = groupSubIf("''\"", italicQuote, text)("&quot;" + _ + "&quot;")
    text = groupSubIf("''", italic, text)("&quot;" + _ + "&quot;")
    text = groupSubIf("\"\"", quoteQuote, text)(identity)
    text = text.replace("'''", "").replace("''", "&quot;")

    // HTML entities, twice (&amp;nbsp; → &nbsp; →  ).
    text = unescape(text)
    text = unescape(text)

    // Comments + self-closing + ignored tags, as the reference's dropSpans pass.
    text = dropTags(text, keepLinks)

    // Discarded elements (may nest → per-pattern regex sub), each run only
    // when the current text can hold a match: an earlier removal can join
    // `<re` and `f>` into `<ref>`.
    for ((tag, p) <- discardPats) if (holdsElement(text, tag)) text = patSub(p, text, "")

    // Placeholders: indices assigned from matches over the pre-replacement
    // text; replacement is by exact string value (reference quirk — two
    // identical elements collapse to the first index).
    for ((tag, p, repl) <- placeholderPats) if (holdsElement(text, tag)) {
      val m = p.matcher(text)
      val found = mutable.ArrayBuffer.empty[String]
      while (m.find()) found += m.group()
      var idx = 1
      var t = text
      for (f <- found) { t = t.replace(f, s"${repl}_$idx"); idx += 1 }
      text = t
    }

    // Reference's literal (mojibake) guillemet replacement.
    text = text.replace("<<", "Â«").replace(">>", "Â»")

    // Preformatted lines (after tag handling, as in the reference).
    text = patSub(preformatted, text, "")

    // Final cleanup.
    text = text.replace("\t", " ")
    text = collapseRuns(text, ' ', 2, " ")
    text = collapseRuns(text, '.', 4, "...")
    text = text.replace(" ,:.)]Â»", ",:.)]Â»") // WikiExtractor.py:448 (literal sequence)
    text = text.replace("[(Â« ", "[(Â«")       // WikiExtractor.py:449
    text = dropPunctOnlyLines(text)
    text = text.replace(",,", ",").replace(",.", ".")
    text = patSubIf("__", magicWords, text, "")
    text
  }

  /** Paragraph assembly (WikiExtractor.py:460-517): section headers are
    * buffered and only emitted above non-empty sections; list items and
    * table residuals are dropped (or HTML-ified in structure mode).
    */
  def compact(text: String, structure: Boolean = false): Seq[String] = {
    val page = mutable.ArrayBuffer.empty[String]
    val headers = mutable.SortedMap.empty[Int, String]
    var emptySection = false

    for (line <- text.split("\n", -1) if line.nonEmpty) {
      val m = sectionRe.matcher(line)
      if (m.lookingAt()) {
        var title = m.group(2)
        val lev = m.group(1).length
        if (structure) page += s"<h$lev>$title</h$lev>"
        if (title.nonEmpty && !"!?".contains(title.last)) title += "."
        headers(lev) = title
        headers.keys.filter(_ > lev).toSeq.foreach(headers.remove)
        emptySection = true
      } else if (line.startsWith("++")) {
        var title = line.substring(2, math.max(2, line.length - 2))
        if (title.nonEmpty) {
          if (!"!?".contains(title.last)) title += "."
          page += title
        }
      } else if ("*#:;".contains(line.head)) {
        if (structure) page += s"<li>${line.substring(1)}</li>"
      } else if ("{|".contains(line.head) || line.last == '}') {
        // table/list residuals dropped
      } else if ((line.head == '(' && line.last == ')') || line.forall(c => c == '.' || c == '-')) {
        // irrelevant lines dropped
      } else if (headers.nonEmpty) {
        headers.values.foreach(page += _)
        headers.clear()
        page += line
        emptySection = false
      } else if (!emptySection) {
        page += line
      }
    }
    page.toSeq
  }

  /** Reference's page URL scheme (WikiExtractor.py:145). */
  def pageUrl(prefix: String, id: String): String = s"$prefix?curid=$id"

  // ------------------------------------------------------------------
  // Template expansion (parity-PLUS: the reference only drops `{{..}}` —
  // its own FIXME at WikiExtractor.py:370 — so infoboxes/convert output
  // vanish wholesale. One non-recursive level recovers that text; anything
  // still unexpanded afterwards is removed by dropNested as before.)
  // ------------------------------------------------------------------

  private val noincludeRe = Pattern.compile(
    "<\\s*noinclude\\s*>.*?(<\\s*/\\s*noinclude\\s*>|$)", Pattern.DOTALL | Pattern.CASE_INSENSITIVE)
  private val includeonlyTagRe = Pattern.compile(
    "<\\s*/?\\s*includeonly\\s*>", Pattern.CASE_INSENSITIVE)
  private val onlyincludeRe = Pattern.compile(
    "<\\s*onlyinclude\\s*>(.*?)<\\s*/\\s*onlyinclude\\s*>", Pattern.DOTALL | Pattern.CASE_INSENSITIVE)
  private val tripleParam = Pattern.compile("\\{\\{\\{([^{}|]*)(?:\\|([^{}]*))?\\}\\}\\}")

  /** Canonical template key: `Template:` prefix stripped, `_`→space,
    * trimmed, first letter capitalized (MediaWiki's case rule).
    */
  def normalizeTemplateName(raw: String): String = {
    var n = raw.replace('_', ' ').trim
    val colon = n.indexOf(':')
    if (colon > 0 && pyCapitalize(n.substring(0, colon)) == "Template")
      n = n.substring(colon + 1).trim
    if (n.isEmpty) n else n.substring(0, 1).toUpperCase + n.substring(1)
  }

  /** Transcluded body of a template page: `<onlyinclude>` sections win if
    * present; otherwise `<noinclude>` content is dropped and
    * `<includeonly>` tags unwrapped (standard MediaWiki inclusion rules).
    */
  def transclusionBody(pageText: String): String = {
    val om = onlyincludeRe.matcher(pageText)
    val sb = new StringBuilder
    var any = false
    while (om.find()) { any = true; sb.append(om.group(1)) }
    val base = if (any) sb.toString else noincludeRe.matcher(pageText).replaceAll("")
    includeonlyTagRe.matcher(base).replaceAll("")
  }

  /** Split on `sep` at top-level only (outside `{{..}}`/`[[..]]` nesting). */
  private def splitTopLevel(s: String, sep: Char): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var curly = 0
    var square = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '{') { curly += 1; cur.append(c) }
      else if (c == '}') { curly -= 1; cur.append(c) }
      else if (c == '[') { square += 1; cur.append(c) }
      else if (c == ']') { square -= 1; cur.append(c) }
      else if (c == sep && curly == 0 && square == 0) { out += cur.toString; cur.clear() }
      else cur.append(c)
      i += 1
    }
    out += cur.toString
    out.toSeq
  }

  /** Substitute `{{{name}}}` / `{{{n}}}` / `{{{x|default}}}` parameters in a
    * template body from the call-site arguments (named args split on the
    * first top-level `=`, keys and values trimmed; positional args 1-based,
    * untrimmed — MediaWiki's rules).
    */
  def substituteParams(body: String, args: Seq[String]): String = {
    val named = mutable.Map.empty[String, String]
    var pos = 0
    for (a <- args) {
      val eq = {
        var depth = 0; var idx = -1; var i = 0
        while (idx < 0 && i < a.length) {
          val c = a.charAt(i)
          if (c == '{' || c == '[') depth += 1
          else if (c == '}' || c == ']') depth -= 1
          else if (c == '=' && depth == 0) idx = i
          i += 1
        }
        idx
      }
      if (eq >= 0) named(a.substring(0, eq).trim) = a.substring(eq + 1).trim
      else { pos += 1; named(pos.toString) = a }
    }
    val m = tripleParam.matcher(body)
    val sb = new java.lang.StringBuilder
    while (m.find()) {
      val key = m.group(1).trim
      val repl = named.get(key).orElse(Option(m.group(2))).getOrElse(m.group())
      m.appendReplacement(sb, Matcher.quoteReplacement(repl))
    }
    m.appendTail(sb)
    sb.toString
  }

  /** Expand top-level `{{Name|args}}` transclusions from the given library,
    * `levels` passes deep (each pass expands one nesting level; recursion —
    * including self-reference — is therefore bounded by construction).
    * Whatever is still unexpanded after the last pass falls to dropNested.
    * Unknown templates are left in place, preserving the reference's drop
    * behavior for them.
    */
  def expandTemplates(text: String, templates: collection.Map[String, String],
                      levels: Int = 1): String = {
    var out = text
    var l = 0
    var changed = true
    while (l < levels && changed) {
      val next = expandOnce(out, templates)
      changed = !(next eq out) && next != out
      out = next
      l += 1
    }
    out
  }

  // ---- parser functions (R28 continuation) -------------------------------
  // The reference's own grammar comment (WikiExtractor.py:106) names the
  // `{{ {{{|safesubst:}}} #if: ... }}` / `msg:` shapes it never implements
  // (template expansion upstream is the FIXME at :370). Flag-on expansion
  // here evaluates the common parser functions; flag-off byte parity is
  // untouched (this code is only reachable through expandTemplates).

  /** Numeric value of a trimmed operand if it parses as a PHP-ish number. */
  private def numVal(s: String): Option[Double] =
    try { if (s.isEmpty) None else Some(java.lang.Double.parseDouble(s)) }
    catch { case _: NumberFormatException => None }

  /** MediaWiki equality: numeric when both sides parse, else exact string. */
  private def mwEquals(a: String, b: String): Boolean =
    (numVal(a), numVal(b)) match {
      case (Some(x), Some(y)) => x == y
      case _ => a == b
    }

  /** `{{#expr:}}` result formatting: integral values print as integers
    * (PHP's (string) cast rule); everything else as a plain decimal
    * trimmed to 14 significant digits — the documented approximation of
    * PHP precision=14 (scientific-notation edge magnitudes differ).
    */
  private def formatExpr(x: Double): String = {
    if (x.isNaN || x.isInfinite) return x.toString
    if (x == math.rint(x) && math.abs(x) < 1e15) return x.toLong.toString
    java.math.BigDecimal.valueOf(x)
      .round(new java.math.MathContext(14))
      .stripTrailingZeros.toPlainString
  }

  /** Recursive-descent `#expr` evaluator: or/and/not, comparisons
    * (= != <> < > <= >=), + -, * / mod, `x round n`, unary ±, parens.
    */
  private[wiki] def evalExpr(expr: String): Either[String, Double] = {
    val s = expr
    var i = 0
    def ws(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    def peekWord(w: String): Boolean = {
      ws()
      s.regionMatches(true, i, w, 0, w.length) &&
        (i + w.length == s.length || !s.charAt(i + w.length).isLetter) &&
        (w.forall(_.isLetter))
    }
    def eatWord(w: String): Boolean =
      if (peekWord(w)) { i += w.length; true } else false
    var err: String = null
    def fail(m: String): Double = { if (err == null) err = m; Double.NaN }
    def atom(): Double = {
      ws()
      if (i >= s.length) return fail("unexpected end")
      val c = s.charAt(i)
      if (c == '(') {
        i += 1
        val v = orExpr()
        ws()
        if (i < s.length && s.charAt(i) == ')') { i += 1; v }
        else fail("missing )")
      } else if (c == '-') { i += 1; -atom() }
      else if (c == '+') { i += 1; atom() }
      else if (eatWord("not")) { if (atom() == 0.0) 1.0 else 0.0 }
      // ParserFunctions' unary function keywords — prefix operators on
      // the following unary expression ("sin 30 + 1" is sin(30) + 1),
      // plus the e/pi constants. Domain errors follow PHP: the NaN flows
      // through and formats as NaN (no error span), matching the
      // reference grammar's function list at its precision.
      else if (eatWord("exp")) math.exp(atom())
      else if (eatWord("ln")) math.log(atom())
      else if (eatWord("abs")) math.abs(atom())
      else if (eatWord("sqrt")) math.sqrt(atom())
      else if (eatWord("trunc")) atom().toLong.toDouble
      else if (eatWord("floor")) math.floor(atom())
      else if (eatWord("ceil")) math.ceil(atom())
      else if (eatWord("sin")) math.sin(atom())
      else if (eatWord("cos")) math.cos(atom())
      else if (eatWord("tan")) math.tan(atom())
      else if (eatWord("asin")) math.asin(atom())
      else if (eatWord("acos")) math.acos(atom())
      else if (eatWord("atan")) math.atan(atom())
      else if (peekWord("pi")) { i += 2; math.Pi }
      else if (peekWord("e") && !(i + 1 < s.length &&
        (s.charAt(i + 1).isDigit || s.charAt(i + 1) == '.'))) {
        i += 1; math.E
      }
      else {
        val start = i
        while (i < s.length &&
          (s.charAt(i).isDigit || s.charAt(i) == '.' ||
            ((s.charAt(i) == 'e' || s.charAt(i) == 'E') && i > start &&
              i + 1 < s.length &&
              (s.charAt(i + 1).isDigit || s.charAt(i + 1) == '-' ||
                s.charAt(i + 1) == '+')) ||
            ((s.charAt(i) == '-' || s.charAt(i) == '+') && i > start &&
              (s.charAt(i - 1) == 'e' || s.charAt(i - 1) == 'E'))))
          i += 1
        if (i == start) fail(s"bad token at '${s.substring(start)}'")
        else numVal(s.substring(start, i)).getOrElse(fail("bad number"))
      }
    }
    def mulExpr(): Double = {
      var v = atom()
      var go = true
      while (go) {
        ws()
        if (i < s.length && s.charAt(i) == '*') { i += 1; v *= atom() }
        else if (i < s.length && s.charAt(i) == '/') { i += 1
          val d = atom(); if (d == 0.0) v = fail("division by zero") else v /= d }
        else if (eatWord("div")) { // ParserFunctions alias for real division
          val d = atom(); if (d == 0.0) v = fail("division by zero") else v /= d }
        else if (eatWord("mod")) {
          val d = atom()
          // PHP integer mod truncates BOTH operands first, so any |d| < 1
          // is a mod-by-zero too ({{#expr: 7 mod 0.5}} errors in MediaWiki)
          val dl = d.toLong
          if (dl == 0L) v = fail("mod by zero")
          else v = (v.toLong % dl).toDouble
        } else if (eatWord("round")) {
          val p = atom()
          val f = math.pow(10, p.toInt)
          v = math.rint(v * f) / f // MW rounds half to even? PHP: half away
        } else go = false
      }
      v
    }
    def addExpr(): Double = {
      var v = mulExpr()
      var go = true
      while (go) {
        ws()
        if (i < s.length && s.charAt(i) == '+') { i += 1; v += mulExpr() }
        else if (i < s.length && s.charAt(i) == '-') { i += 1; v -= mulExpr() }
        else go = false
      }
      v
    }
    def cmpExpr(): Double = {
      var v = addExpr()
      var go = true
      while (go) {
        ws()
        def b(x: Boolean) = if (x) 1.0 else 0.0
        if (i + 1 < s.length && s.substring(i, i + 2) == "<>") { i += 2; v = b(v != addExpr()) }
        else if (i + 1 < s.length && s.substring(i, i + 2) == "!=") { i += 2; v = b(v != addExpr()) }
        else if (i + 1 < s.length && s.substring(i, i + 2) == "<=") { i += 2; v = b(v <= addExpr()) }
        else if (i + 1 < s.length && s.substring(i, i + 2) == ">=") { i += 2; v = b(v >= addExpr()) }
        else if (i < s.length && s.charAt(i) == '=') { i += 1; v = b(v == addExpr()) }
        else if (i < s.length && s.charAt(i) == '<') { i += 1; v = b(v < addExpr()) }
        else if (i < s.length && s.charAt(i) == '>') { i += 1; v = b(v > addExpr()) }
        else go = false
      }
      v
    }
    def andExpr(): Double = {
      var v = cmpExpr()
      while (eatWord("and")) { val r = cmpExpr(); v = if (v != 0 && r != 0) 1.0 else 0.0 }
      v
    }
    def orExpr(): Double = {
      var v = andExpr()
      while (eatWord("or")) { val r = andExpr(); v = if (v != 0 || r != 0) 1.0 else 0.0 }
      v
    }
    val v = orExpr()
    ws()
    if (err != null) Left(err)
    else if (i < s.length) Left(s"trailing input '${s.substring(i)}'")
    else Right(v)
  }

  /** Evaluate a `{{#fn: ...}}` span whose inner text (arguments already
    * one-level expanded) is `inner`. Returns None for unknown functions —
    * the span then stays in place for dropNested, the unknown-template
    * rule.
    */
  private def evalParserFunction(inner: String): Option[String] = {
    val colon = inner.indexOf(':')
    if (colon < 0) return None
    val fn = inner.substring(0, colon).trim.toLowerCase(java.util.Locale.ROOT)
    val rest = inner.substring(colon + 1)
    val parts = splitTopLevel(rest, '|')
    def arg(i: Int): String = if (i < parts.length) parts(i).trim else ""
    fn match {
      case "#if" =>
        Some(if (arg(0).nonEmpty) arg(1) else arg(2))
      case "#ifeq" =>
        Some(if (mwEquals(arg(0), arg(1))) arg(2) else arg(3))
      case "#expr" =>
        Some(evalExpr(rest.trim) match {
          case Right(v) => formatExpr(v)
          case Left(e) => s"""<strong class="error">Expression error: $e</strong>"""
        })
      case "#ifexpr" =>
        // empty condition is FALSE (no error span — MediaWiki's rule);
        // an invalid expression yields the error span alone, no branch
        Some(if (arg(0).isEmpty) arg(2)
        else evalExpr(arg(0)) match {
          case Right(v) => if (v != 0.0) arg(1) else arg(2)
          case Left(e) =>
            s"""<strong class="error">Expression error: $e</strong>"""
        })
      case "#tag" =>
        // {{#tag:name|content|attr=val|…}} → <name attr="val">content</name>
        // (no content argument at all → self-closing). The synthesized
        // element flows through the SAME downstream tag rules as literal
        // markup — a #tag:ref lands in the discard list, #tag:nowiki in
        // the placeholder pass — which is the point of the function.
        val tag = arg(0)
        if (tag.isEmpty || !tag.forall(c => c.isLetterOrDigit)) None
        else {
          val attrs = parts.drop(2).map(_.trim).filter(_.nonEmpty).flatMap {
            p =>
              val eq = p.indexOf('=')
              if (eq <= 0) None
              else {
                val k = p.substring(0, eq).trim
                val v = p.substring(eq + 1).trim
                  .stripPrefix("\"").stripSuffix("\"")
                if (k.isEmpty) None else Some(s"""$k="$v"""")
              }
          }
          val attrStr = if (attrs.isEmpty) "" else attrs.mkString(" ", " ", "")
          Some(if (parts.length < 2) s"<$tag$attrStr/>"
          else s"<$tag$attrStr>${arg(1)}</$tag>")
        }
      case "#switch" =>
        val key = arg(0)
        var default = ""
        var matched = false
        var result: Option[String] = None
        var k = 1
        while (result.isEmpty && k < parts.length) {
          val p = parts(k)
          val eq = {
            var depth = 0; var idx = -1; var j = 0
            while (idx < 0 && j < p.length) {
              val c = p.charAt(j)
              if (c == '{' || c == '[') depth += 1
              else if (c == '}' || c == ']') depth -= 1
              else if (c == '=' && depth == 0) idx = j
              j += 1
            }
            idx
          }
          if (eq >= 0) {
            val caseKey = p.substring(0, eq).trim
            val res = p.substring(eq + 1).trim
            if (matched || mwEquals(caseKey, key)) result = Some(res)
            else if (caseKey == "#default") default = res
          } else {
            val bare = p.trim
            if (mwEquals(bare, key)) matched = true
            else if (k == parts.length - 1 && !matched) default = bare // implicit default
          }
          k += 1
        }
        Some(result.getOrElse(default))

      case "#iferror" =>
        // branches on the error element the #expr/#ifexpr family emits
        // (class="error") — the standard guard wrapping around arithmetic
        // on possibly-empty template parameters. No second argument →
        // empty on error (MediaWiki's default); no third → the trial
        // value passes through unchanged.
        val trial = arg(0)
        Some(if (trial.contains("class=\"error\""))
          (if (parts.length > 1) arg(1) else "")
        else (if (parts.length > 2) arg(2) else trial))

      // ---- ParserFunctions string module (round 15 breadth) ------------
      // #len/#pos/#sub/#titleparts — the PUBLIC ParserFunctions string
      // subset real templates reach for after the conditionals. All
      // positions/lengths are Unicode CODE POINTS (PHP mb_* semantics);
      // non-numeric numeric args fall to their documented defaults
      // (lenient, never an error span — the PF string functions error
      // only on the length LIMIT, which pad's 500 cap precedent covers).
      case "#len" =>
        Some(arg(0).codePointCount(0, arg(0).length).toString)
      case "#pos" =>
        // 0-based code-point index of the first occurrence at or after
        // `offset`; EMPTY output when absent or the needle is empty.
        val s = arg(0); val needle = arg(1)
        val off = math.max(intArg(2, parts, 0), 0)
        val n = s.codePointCount(0, s.length)
        if (needle.isEmpty || off > n) Some("")
        else {
          val fromChar = s.offsetByCodePoints(0, off)
          val at = s.indexOf(needle, fromChar)
          Some(if (at < 0) "" else s.codePointCount(0, at).toString)
        }
      case "#sub" =>
        // mb_substr: negative start counts from the end; omitted/empty
        // length → to end; negative length leaves that many off the end;
        // zero/non-numeric length → empty (PHP intval collapse).
        val s = arg(0)
        val n = s.codePointCount(0, s.length)
        val start0 = intArg(1, parts, 0)
        val from = if (start0 < 0) math.max(n + start0, 0) else math.min(start0, n)
        val to =
          if (arg(2).isEmpty) n
          else {
            val l = intArg(2, parts, 0)
            if (l < 0) math.max(n + l, from) else math.min(from + l, n)
          }
        Some(if (to <= from) ""
        else s.substring(s.offsetByCodePoints(0, from), s.offsetByCodePoints(0, to)))
      case "#titleparts" =>
        // slash segments of a title: `number` segments starting at the
        // 1-based `first`; number ≤ 0/omitted → all from first, negative
        // number strips that many from the end; negative first counts
        // from the end. Titles over 25 segments pass through unprocessed
        // (the documented PF guard).
        val title = arg(0)
        val segs = title.split("/", -1)
        if (segs.length > 25) Some(title)
        else {
          val len = segs.length
          val num = intArg(1, parts, 0)
          val first0 = intArg(2, parts, 1)
          val first = if (first0 < 0) math.max(len + first0 + 1, 1)
                      else math.max(first0, 1)
          val startIdx = math.min(first - 1, len)
          val endIdx =
            if (num > 0) math.min(startIdx + num, len)
            else if (num == 0) len
            else math.max(len + num, startIdx)
          Some(segs.slice(startIdx, endIdx).mkString("/"))
        }
      case "#time" => Some(evalTime(arg(0), arg(1)))
      case _ => None
    }
  }

  // English month/day name tables for #time — hand-pinned rather than
  // JVM-locale-derived, so output can never drift with the runtime locale
  private val TimeMonths = Array("January", "February", "March", "April",
    "May", "June", "July", "August", "September", "October", "November",
    "December")
  private val TimeDays = Array("Monday", "Tuesday", "Wednesday", "Thursday",
    "Friday", "Saturday", "Sunday") // index 0 = ISO day 1

  /** `{{#time: format | datetime }}` — the PHP-date-vocabulary time
    * formatter (the last big ParserFunctions surface; the reference's
    * grammar comment names the shape, implements nothing). DETERMINISM
    * CONTRACT, deliberately narrower than MediaWiki: the datetime
    * argument is REQUIRED (MediaWiki defaults to page-render time — a
    * nondeterministic output is a bug in a batch corpus tool, so an
    * omitted or unparsable argument yields the standard error span), and
    * accepted forms are the unambiguous ones: `YYYY-MM-DD`,
    * `YYYY-MM-DD HH:MM:SS` (or `T` separator), the 14-digit MediaWiki
    * timestamp, and `@<unix seconds>`. All arithmetic is UTC (MediaWiki's
    * default). Format codes are the PHP `date()` core set — Y y L n m M
    * F t j d z N w D l a A g h G H i s U c — with `\x` escaping the next
    * character and every unrecognized character passing through
    * literally (PHP's rule).
    */
  private def evalTime(format: String, datetime: String): String = {
    import java.time.{LocalDate, LocalDateTime, ZoneOffset}
    def err = """<strong class="error">Error: Invalid time.</strong>"""
    val dtStr = datetime.trim
    val parsed: Option[LocalDateTime] =
      try {
        if (dtStr.isEmpty) None
        else if (dtStr.startsWith("@"))
          Some(LocalDateTime.ofEpochSecond(dtStr.drop(1).toLong, 0,
            ZoneOffset.UTC))
        else if (dtStr.matches("\\d{14}"))
          Some(LocalDateTime.of(
            dtStr.substring(0, 4).toInt, dtStr.substring(4, 6).toInt,
            dtStr.substring(6, 8).toInt, dtStr.substring(8, 10).toInt,
            dtStr.substring(10, 12).toInt, dtStr.substring(12, 14).toInt))
        else if (dtStr.matches("\\d{4}-\\d{2}-\\d{2}"))
          Some(LocalDate.parse(dtStr).atStartOfDay())
        else if (dtStr.matches("\\d{4}-\\d{2}-\\d{2}[ T]\\d{2}:\\d{2}:\\d{2}"))
          Some(LocalDateTime.parse(dtStr.replace(' ', 'T')))
        else None
      } catch { case _: RuntimeException => None }
    parsed match {
      case None => err
      case Some(dt) =>
        val sb = new StringBuilder
        var i = 0
        def pad2(v: Int) = f"$v%02d"
        while (i < format.length) {
          val c = format.charAt(i)
          if (c == '\\' && i + 1 < format.length) {
            sb.append(format.charAt(i + 1)); i += 2
          } else {
            val isoDow = dt.getDayOfWeek.getValue // Mon=1..Sun=7
            sb.append(c match {
              case 'Y' => dt.getYear.toString
              case 'y' => pad2(dt.getYear % 100)
              case 'L' => if (dt.toLocalDate.isLeapYear) "1" else "0"
              case 'n' => dt.getMonthValue.toString
              case 'm' => pad2(dt.getMonthValue)
              case 'M' => TimeMonths(dt.getMonthValue - 1).take(3)
              case 'F' => TimeMonths(dt.getMonthValue - 1)
              case 't' => dt.toLocalDate.lengthOfMonth.toString
              case 'j' => dt.getDayOfMonth.toString
              case 'd' => pad2(dt.getDayOfMonth)
              case 'z' => (dt.getDayOfYear - 1).toString
              case 'N' => isoDow.toString
              case 'w' => (isoDow % 7).toString
              case 'D' => TimeDays(isoDow - 1).take(3)
              case 'l' => TimeDays(isoDow - 1)
              case 'a' => if (dt.getHour < 12) "am" else "pm"
              case 'A' => if (dt.getHour < 12) "AM" else "PM"
              case 'g' => (((dt.getHour + 11) % 12) + 1).toString
              case 'h' => pad2(((dt.getHour + 11) % 12) + 1)
              case 'G' => dt.getHour.toString
              case 'H' => pad2(dt.getHour)
              case 'i' => pad2(dt.getMinute)
              case 's' => pad2(dt.getSecond)
              case 'U' => dt.toEpochSecond(ZoneOffset.UTC).toString
              case 'c' => dt.toLocalDate.toString + "T" +
                pad2(dt.getHour) + ":" + pad2(dt.getMinute) + ":" +
                pad2(dt.getSecond) + "+00:00"
              case other => other.toString
            })
            i += 1
          }
        }
        sb.toString
    }
  }

  // Lenient integer arg for the string parser functions: trimmed, full
  // integer or the default (PHP's intval is MORE lenient — "3abc" → 3 —
  // but templates in the wild pass clean integers or nothing; documented).
  private def intArg(i: Int, parts: Seq[String], dflt: Int): Int = {
    val s = if (i < parts.length) parts(i).trim else ""
    if (s.isEmpty) dflt
    else try s.toInt catch { case _: NumberFormatException => dflt }
  }

  /** Case/pad magic words ({{lc:}}, {{uc:}}, {{lcfirst:}}, {{ucfirst:}},
    * {{padleft:}}, {{padright:}}) — the colon-form string functions real
    * templates reach for next after the conditionals (MediaWiki's "string
    * functions" subset of magic words; the reference's grammar comment at
    * WikiExtractor.py:106 names the colon-call shape but implements
    * none). Unknown names return None and the span falls to dropNested.
    */
  private def evalMagicWord(inner: String): Option[String] = {
    val colon = inner.indexOf(':')
    if (colon <= 0) return None
    val fn = inner.substring(0, colon).trim.toLowerCase(java.util.Locale.ROOT)
    if (!MagicWords.contains(fn)) return None
    val rest = inner.substring(colon + 1)
    val parts = splitTopLevel(rest, '|')
    def arg(i: Int): String = if (i < parts.length) parts(i).trim else ""
    def caseFirst(s: String, up: Boolean): String =
      if (s.isEmpty) s
      else {
        val n = Character.charCount(s.codePointAt(0))
        val head = s.substring(0, n)
        (if (up) head.toUpperCase(java.util.Locale.ROOT)
         else head.toLowerCase(java.util.Locale.ROOT)) + s.substring(n)
      }
    // pad string repeats then truncates to the deficit (MediaWiki's
    // rule); a value already at/over the target length passes through
    // untouched (padleft never truncates the value). Length capped at
    // 500 as upstream does.
    def pad(v: String, left: Boolean): String = {
      val len0 = arg(1)
      val want0 = try len0.toInt catch { case _: NumberFormatException => 0 }
      val want = math.min(want0, 500)
      val padStr = { val p = if (parts.length > 2) arg(2) else ""
        if (p.isEmpty) "0" else p }
      if (want <= v.codePointCount(0, v.length)) v
      else {
        val deficit = want - v.codePointCount(0, v.length)
        val fill = new java.lang.StringBuilder
        var have = 0
        val padCps = padStr.codePointCount(0, padStr.length)
        while (have < deficit) { fill.append(padStr); have += padCps }
        // trim to exactly `deficit` code points
        val cut = fill.toString
        val end = cut.offsetByCodePoints(0, deficit)
        val f = cut.substring(0, end)
        if (left) f + v else v + f
      }
    }
    // {{urlencode:}} percent-encodes the value's UTF-8 bytes (uppercase
    // hex) under the mode's unreserved set — QUERY (default): PHP
    // urlencode's [A-Za-z0-9_.-] with space → '+'; PATH: rawurlencode's
    // [A-Za-z0-9_.~-] with space → %20; WIKI: page-title form — space →
    // '_' and MediaWiki's wfUrlencode preserved set [;:@$!*(),/~] kept
    // verbatim.
    def urlencode(v: String, mode: String): String = {
      val m = mode.trim.toUpperCase(java.util.Locale.ROOT)
      val (space, keep) = m match {
        case "PATH" => ("%20", "_.~-")
        case "WIKI" => ("_", ";:@$!*(),/~_.-")
        case _ => ("+", "_.-")
      }
      val sb = new java.lang.StringBuilder
      for (b <- v.getBytes(java.nio.charset.StandardCharsets.UTF_8)) {
        val c = (b & 0xFF).toChar
        if (c == ' ') sb.append(space)
        else if (c < 0x80 && (c.isLetterOrDigit || keep.indexOf(c) >= 0))
          sb.append(c)
        else sb.append(f"%%${b & 0xFF}%02X")
      }
      sb.toString
    }
    // {{formatnum:}} inserts the en thousands separators into a plain
    // decimal number (sign and fraction preserved); anything else passes
    // through untouched (MediaWiki is lenient); |R strips the separators.
    def formatnum(v: String, mode: String): String = {
      if (mode.trim.equalsIgnoreCase("R")) v.replace(",", "")
      else if (v.matches("-?\\d+(\\.\\d+)?")) {
        val neg = v.startsWith("-")
        val body = if (neg) v.substring(1) else v
        val dot = body.indexOf('.')
        val intPart = if (dot < 0) body else body.substring(0, dot)
        val frac = if (dot < 0) "" else body.substring(dot)
        val grouped = intPart.reverse.grouped(3).mkString(",").reverse
        (if (neg) "-" else "") + grouped + frac
      } else v
    }
    fn match {
      case "lc" => Some(rest.trim.toLowerCase(java.util.Locale.ROOT))
      case "uc" => Some(rest.trim.toUpperCase(java.util.Locale.ROOT))
      case "lcfirst" => Some(caseFirst(rest.trim, up = false))
      case "ucfirst" => Some(caseFirst(rest.trim, up = true))
      case "padleft" => Some(pad(arg(0), left = true))
      case "padright" => Some(pad(arg(0), left = false))
      case "urlencode" => Some(urlencode(arg(0), arg(1)))
      case "formatnum" => Some(formatnum(arg(0), arg(1)))
      case "plural" => Some(plural(arg(0), parts.drop(1).map(_.trim)))
      case "ns" => nsName(arg(0))
      case _ => None
    }
  }

  /** {{PLURAL:n|one|other}} under the English (CLDR) rule the dump
    * corpus this extractor targets uses: the 'one' form exactly when the
    * count is the integer 1 WITH no visible fraction digits ("1.0" is
    * 'other', per CLDR's v = 0 condition); anything unparseable counts
    * as 'other' (MediaWiki's lenient fallback). Extra forms beyond the
    * two English slots are ignored; a single form serves both.
    */
  private def plural(n0: String, forms: Seq[String]): String = {
    if (forms.isEmpty) return ""
    val n = n0.replace(",", "")
    val isOne = !n.contains('.') &&
      (try BigDecimal(n).compare(BigDecimal(1)) == 0
       catch { case _: NumberFormatException => false })
    forms(math.min(if (isOne) 0 else 1, forms.length - 1))
  }

  /** {{ns:}} — canonical English namespace names for the standard ids
    * and their name/alias forms (Image → File). Unknown NUMERIC ids
    * resolve to the empty string (an unregistered namespace has no
    * name); unknown names return None so the span falls to dropNested
    * like an unknown template.
    */
  private val NsById = Map(
    -2 -> "Media", -1 -> "Special", 0 -> "", 1 -> "Talk", 2 -> "User",
    3 -> "User talk", 4 -> "Project", 5 -> "Project talk", 6 -> "File",
    7 -> "File talk", 8 -> "MediaWiki", 9 -> "MediaWiki talk",
    10 -> "Template", 11 -> "Template talk", 12 -> "Help",
    13 -> "Help talk", 14 -> "Category", 15 -> "Category talk")
  private val NsByName: Map[String, String] = {
    val canon = NsById.values.filter(_.nonEmpty)
      .map(n => n.toLowerCase(java.util.Locale.ROOT) -> n).toMap
    canon ++ Map("image" -> "File", "image talk" -> "File talk")
  }
  private def nsName(a: String): Option[String] = {
    val key = a.trim.replace('_', ' ')
    if (key.matches("[+-]?\\d+"))
      Some(try NsById.getOrElse(key.toInt, "")
      catch { case _: NumberFormatException => "" })
    else NsByName.get(key.toLowerCase(java.util.Locale.ROOT))
  }

  private val MagicWords =
    Set("lc", "uc", "lcfirst", "ucfirst", "padleft", "padright",
      "urlencode", "formatnum", "plural", "ns")

  private def expandOnce(text: String, templates: collection.Map[String, String]): String = {
    // top-level spans, the scan dropNested uses; no trailing-close rule
    val spans = nestedSpans(text, "{{", "}}", closeTrailing = false)
    if (spans.isEmpty) return text
    val sb = new java.lang.StringBuilder(text.length)
    var cur = 0
    for ((s, e) <- spans) {
      sb.append(text, cur, s)
      val inner = text.substring(s + 2, e - 2)
      if (inner.trim.startsWith("#")) {
        // parser function: arguments expand FIRST (MediaWiki's order —
        // the nested spans are top-level within `inner`, so one
        // structural recursion bounded by the text's own brace depth),
        // then the function evaluates; unknown #functions stay in place
        // for dropNested, the unknown-template rule.
        evalParserFunction(expandOnce(inner, templates)) match {
          case Some(res) => sb.append(res)
          case None => sb.append(text, s, e)
        }
      } else if (inner.trim == "!" || inner.trim == "=") {
        // the pipe/equals escape magic words ({{!}} → "|", {{=}} → "=")
        // — how real templates smuggle structural characters past
        // argument splitting; after expansion they are plain characters
        // for the downstream table/link passes
        sb.append(if (inner.trim == "!") "|" else "=")
      } else {
        val parts = splitTopLevel(inner, '|')
        val head = parts.head.trim
        // msg:/msgnw: transclusion prefixes (the reference's grammar
        // comment, WikiExtractor.py:106): msg: is an explicit "this is a
        // template call"; msgnw: includes the template SOURCE without
        // parameter substitution (nowiki semantics — later stages treat
        // it as text-bearing markup).
        val lower = head.toLowerCase(java.util.Locale.ROOT)
        val magicName = {
          val c = lower.indexOf(':')
          if (c > 0) lower.substring(0, c).trim else ""
        }
        if (MagicWords.contains(magicName)) {
          // string magic words: args-first like the # functions (the
          // span's nested templates expand, then the fold applies)
          evalMagicWord(expandOnce(inner, templates)) match {
            case Some(res) => sb.append(res)
            case None => sb.append(text, s, e)
          }
        } else if (lower.startsWith("msgnw:")) {
          templates.get(normalizeTemplateName(head.substring(6))) match {
            case Some(body) => sb.append(body)
            case None => sb.append(text, s, e)
          }
        } else {
          val name = if (lower.startsWith("msg:")) head.substring(4) else parts.head
          templates.get(normalizeTemplateName(name)) match {
            case Some(body) => sb.append(substituteParams(body, parts.tail))
            case None => sb.append(text, s, e) // unknown: dropNested handles it
          }
        }
      }
      cur = e
    }
    sb.append(text, cur, text.length)
    sb.toString
  }
}
