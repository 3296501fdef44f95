package graft.wiki

import java.util.regex.Pattern
import scala.collection.mutable
import scala.util.matching.Regex

import WikiMarkup.{acceptedNamespaces, discardElements, ignoredTags, placeholderTags,
  selfClosingTags}

/** `WikiMarkup.clean` as a sequence of regex passes, one per pattern, the
  * way the reference runs it (WikiExtractor.py:368-456). `WikiMarkup.clean`
  * replaces several of these steps with hand scans; this is the oracle the
  * differential spec holds it to, byte for byte.
  */
object CleanOracle {

  private val comment = Pattern.compile("<!--.*?-->", Pattern.DOTALL)
  private val selfClosingPats: Seq[Pattern] = selfClosingTags.map(t =>
    Pattern.compile(s"<\\s*$t\\b[^/]*/\\s*>", Pattern.DOTALL | Pattern.CASE_INSENSITIVE))
  private def ignoredPats(keepLinks: Boolean): Seq[(Pattern, Pattern)] = {
    val tags = if (keepLinks) ignoredTags else ignoredTags :+ "a"
    tags.map(t => (
      Pattern.compile(s"<\\s*$t\\b[^>]*>", Pattern.CASE_INSENSITIVE),
      Pattern.compile(s"<\\s*/\\s*$t>", Pattern.CASE_INSENSITIVE)))
  }
  private val ignoredPatsKeep = ignoredPats(keepLinks = true)
  private val ignoredPatsNoKeep = ignoredPats(keepLinks = false)
  private val discardPats: Seq[Pattern] = discardElements.map(t =>
    Pattern.compile(s"<\\s*$t\\b[^>]*>.*?<\\s*/\\s*$t>", Pattern.DOTALL | Pattern.CASE_INSENSITIVE))
  private val placeholderPats: Seq[(Pattern, String)] = placeholderTags.map { case (t, repl) =>
    (Pattern.compile(s"<\\s*$t(\\s*| [^>]+?)>.*?<\\s*/\\s*$t\\s*>",
      Pattern.DOTALL | Pattern.CASE_INSENSITIVE), repl)
  }
  private val preformatted = Pattern.compile("^ .*?$", Pattern.MULTILINE)
  private val externalLink = new Regex("\\[\\w+.*? (.*?)\\]")
  private val externalLinkNoAnchor = Pattern.compile("\\[\\w+[&\\]]*\\]")
  private val boldItalic = new Regex("'''''([^']*?)'''''")
  private val bold = new Regex("'''(.*?)'''")
  private val italicQuote = new Regex("''\"(.*?)\"''")
  private val italic = new Regex("''([^']*)''")
  private val quoteQuote = new Regex("\"\"(.*?)\"\"")
  private val spaces = Pattern.compile(" {2,}")
  private val dots = Pattern.compile("\\.{4,}")
  private val wikiLink = new Regex("\\[\\[([^\\[]*?)(?:\\|([^\\[]*?))?\\]\\](\\w*)")
  private val parametrizedLink = Pattern.compile("\\[\\[.*?\\]\\]")
  private val punctOnlyLines = Pattern.compile("\\n\\W+?\\n")
  private val magicWords = Pattern.compile("__[A-Z]+__")
  private val entityRef = new Regex("&#?(\\w+);")

  /** Character-reference unescaping as one regex pass. */
  private def unescape(text: String): String =
    entityRef.replaceAllIn(text, m => {
      val whole = m.matched
      val code = m.group(1)
      val out =
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
      Regex.quoteReplacement(out)
    })

  private def dropNested(text: String, open: String, close: String): String = {
    val openRe = Pattern.compile(open)
    val closeRe = Pattern.compile(close)
    val om = openRe.matcher(text)
    val cm = closeRe.matcher(text)
    val spans = mutable.ArrayBuffer.empty[(Int, Int)]
    val stack = mutable.ArrayBuffer.empty[Int] // start offsets of open delims
    var pos = 0
    var lastCloseEnd = -1
    var done = false
    while (!done) {
      val hasOpen = om.find(pos)
      val openStart = if (hasOpen) om.start else Int.MaxValue
      val hasClose = cm.find(pos)
      val closeStart = if (hasClose) cm.start else Int.MaxValue
      if (!hasOpen && !hasClose) done = true
      else if (openStart < closeStart) { stack += openStart; pos = om.end() }
      else {
        if (stack.nonEmpty) {
          val top = stack.remove(stack.length - 1)
          if (stack.isEmpty) spans += ((top, cm.end()))
        }
        lastCloseEnd = cm.end()
        pos = cm.end()
      }
    }
    if (stack.nonEmpty && lastCloseEnd > stack.head)
      spans += ((stack.head, lastCloseEnd))
    dropSpans(spans.sortBy(_._1).toSeq, text)
  }

  private def dropSpans(spans: Seq[(Int, Int)], text: String): String = {
    val sb = new java.lang.StringBuilder(text.length)
    var cur = 0
    for ((s, e) <- spans) {
      if (s > cur) sb.append(text, cur, s)
      cur = e
    }
    if (cur < text.length) sb.append(text, cur, text.length)
    sb.toString
  }

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

  def clean(text0: String, keepLinks: Boolean = false,
            namespaces: Set[String] = acceptedNamespaces): String = {
    var text = text0

    // Transclusions + tables (nesting-aware).
    text = dropNested(text, "\\{\\{", "\\}\\}")
    text = dropNested(text, "\\{\\|", "\\|\\}")

    // Links: expand innermost in one pass, then drop remaining enclosing.
    text = wikiLink.replaceAllIn(text, m =>
      Regex.quoteReplacement(
        anchorFor(m.group(1), Option(m.group(2)), m.group(3), keepLinks, namespaces)))
    text = patSub(parametrizedLink, text, "")

    // External links.
    text = externalLink.replaceAllIn(text, m => Regex.quoteReplacement(m.group(1)))
    text = patSub(externalLinkNoAnchor, text, "")

    // Bold / italic / quotes.
    text = boldItalic.replaceAllIn(text, m => Regex.quoteReplacement(m.group(1)))
    text = bold.replaceAllIn(text, m => Regex.quoteReplacement(m.group(1)))
    text = italicQuote.replaceAllIn(text, m => Regex.quoteReplacement("&quot;" + m.group(1) + "&quot;"))
    text = italic.replaceAllIn(text, m => Regex.quoteReplacement("&quot;" + m.group(1) + "&quot;"))
    text = quoteQuote.replaceAllIn(text, m => Regex.quoteReplacement(m.group(1)))
    text = text.replace("'''", "").replace("''", "&quot;")

    // HTML entities, twice (&amp;nbsp; → &nbsp; →  ).
    text = unescape(text)
    text = unescape(text)

    // Comments + self-closing + ignored tags: collected as spans and bulk
    // dropped, mirroring the reference's dropSpans pass.
    val spans = mutable.ArrayBuffer.empty[(Int, Int)]
    def collect(p: Pattern): Unit = {
      val m = p.matcher(text)
      while (m.find()) spans += ((m.start, m.end))
    }
    collect(comment)
    selfClosingPats.foreach(collect)
    val ign = if (keepLinks) ignoredPatsKeep else ignoredPatsNoKeep
    ign.foreach { case (l, r) => collect(l); collect(r) }
    text = dropSpans(spans.sortBy(_._1).toSeq, text)

    // Discarded elements (may nest → per-pattern regex sub).
    for (p <- discardPats) text = patSub(p, text, "")

    // Placeholders: indices assigned from matches over the pre-replacement
    // text; replacement is by exact string value (reference quirk — two
    // identical elements collapse to the first index).
    for ((p, repl) <- placeholderPats) {
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
    text = patSub(spaces, text, " ")
    text = patSub(dots, text, "...")
    text = text.replace(" ,:.)]Â»", ",:.)]Â»") // WikiExtractor.py:448 (literal sequence)
    text = text.replace("[(Â« ", "[(Â«")       // WikiExtractor.py:449
    text = patSub(punctOnlyLines, text, "\n")
    text = text.replace(",,", ",").replace(",.", ".")
    text = patSub(magicWords, text, "")
    text
  }
}
