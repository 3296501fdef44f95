package graft.wiki

import scala.util.Random

/** Seeded page bodies as `clean` receives them (wikitext, XML-escaped
  * once), with benchmark/gen.py's markup mix: nested templates and tables,
  * links with anchors, section anchors and trails, external links, bold
  * and italic, doubly-escaped entities, comments, ref/math/code elements,
  * preformatted lines, sections and lists. Pages are shorter than the
  * benchmark's (median e^3.0 ≈ 20 words) so that ten thousand of them
  * stay cheap for the regex oracle.
  *
  * One token in 25 is instead an adversarial fragment aimed at the regex
  * semantics `clean`'s scans reproduce: mixed-case, spaced, unterminated
  * and near-miss tags (raw or escaped), comment delimiters, external links
  * across line terminators, and loose punctuation.
  */
final class WikiPageGen(seed: Long) {
  private val rng = new Random(seed)

  private val vocab: Array[String] = {
    val syllables = Array("ka", "lo", "mi", "ne", "ru", "ta", "vi", "so", "pe", "da",
      "gu", "zo", "fa", "he", "ji", "wu", "xe", "bo", "ci", "ya")
    val r = new Random(7)
    Iterator.continually(Seq.fill(2 + r.nextInt(3))(syllables(r.nextInt(syllables.length))).mkString)
      .distinct.take(2000).toArray
  }

  // Zipf (s = 1.05) over the vocabulary ranks
  private val cum: Array[Double] =
    vocab.indices.map(r => 1.0 / math.pow(r + 1, 1.05)).scanLeft(0.0)(_ + _).tail.toArray

  private def between(lo: Int, hi: Int): Int = lo + rng.nextInt(hi - lo + 1)
  private def pick[A](xs: Seq[A]): A = xs(rng.nextInt(xs.length))

  def word(): String = {
    val i = java.util.Arrays.binarySearch(cum, rng.nextDouble() * cum.last)
    vocab(if (i >= 0) i else math.min(-i - 1, vocab.length - 1))
  }

  private def phrase(lo: Int, hi: Int): String = Seq.fill(between(lo, hi))(word()).mkString(" ")

  private def template(depth: Int): String = {
    val args = (0 until between(1, 3)).map { i =>
      val v = if (depth < 3 && rng.nextDouble() < 0.3) template(depth + 1) else phrase(1, 3)
      if (rng.nextDouble() < 0.6) s"p$i=$v" else v
    }
    "{{" + word() + "|" + args.mkString("|") + "}}"
  }

  private def table(depth: Int): String = {
    val rows = Seq("{| class=\"wikitable\"", "! " + word() + " !! " + word()) ++
      (0 until between(1, 4)).flatMap { _ =>
        val cell = if (depth < 2 && rng.nextDouble() < 0.2) "\n" + table(depth + 1) + "\n" else phrase(1, 4)
        Seq("|-", "| " + cell + " || " + phrase(1, 3))
      } :+ "|}"
    rows.mkString("\n")
  }

  private def token(): String = {
    if (rng.nextDouble() < 0.04) return fuzz()
    val w = word()
    val x = rng.nextDouble()
    if (x < 0.04) s"[[$w]]"
    else if (x < 0.06) s"[[${w.capitalize}|${phrase(1, 3)}]]"
    else if (x < 0.07) s"[[$w]]s"
    else if (x < 0.075) s"[[${w.capitalize}#${word()}|$w]]"
    else if (x < 0.078) s"[[w:${w.capitalize}|$w]]"
    else if (x < 0.08) s"[[Category:${w.capitalize}]]"
    else if (x < 0.10) s"'''$w'''"
    else if (x < 0.12) s"''$w''"
    else if (x < 0.123) s"'''''$w'''''"
    else if (x < 0.128) s"[http://example.org/$w ${phrase(1, 2)}]"
    else if (x < 0.130) s"[http://example.org/$w]"
    else if (x < 0.134) s"$w&amp;amp;${word()}"
    else if (x < 0.136) s"&amp;quot;$w&amp;quot;"
    else if (x < 0.138) s"$w&amp;nbsp;${word()}"
    else w
  }

  private val tagNames: Seq[String] =
    (WikiMarkup.ignoredTags ++ WikiMarkup.selfClosingTags ++ WikiMarkup.discardElements ++
      WikiMarkup.placeholderTags.map(_._1) :+ "a").distinct ++
      Seq("bé", "b\u0301", "b_", "b-", "bx", "kbd\u212A", "\u212Abd", "\u017fpan", "refs", "h5")
  private val gaps = Seq("", "", "", " ", "  ", "\t", "\n", "\u000b", "\f", "\r", "\u00a0")
  private val terminators = Seq("\n", "\r", "\u0085", "\u2028", "\u2029")

  private def mixCase(s: String): String = s.map(c => if (rng.nextInt(3) == 0) c.toUpper else c)
  private def lt(): String = if (rng.nextBoolean()) "<" else "&lt;"
  private def gt(): String = if (rng.nextBoolean()) ">" else "&gt;"
  private def name(): String = mixCase(pick(tagNames))

  private def fuzz(): String = rng.nextInt(11) match {
    case 0 | 1 =>
      val attrs =
        if (rng.nextBoolean()) "" else " " + pick(Seq("x=\"1\"", "a/b", "<i", "-->", "name=" + word()))
      lt() + pick(gaps) + name() + attrs + pick(Seq(gt(), gt(), "/" + gt(), " /" + pick(gaps) + gt(), ""))
    case 2 | 3 => lt() + pick(gaps) + "/" + pick(gaps) + name() + pick(Seq(gt(), gt(), " " + gt(), ""))
    case 4 => lt() + "!--" + pick(Seq("", " ", "-", gt()))
    case 5 => pick(Seq("--", "-")) + gt()
    case 6 => pick(Seq(
      s"[${word()} ${phrase(1, 2)}]", s"[${word()} ${word()}]]", s"[${word()}]", "[x]", "[_ a]",
      s"[${word()}]${word()} ${word()}]", s"[${word()} ${word()}${pick(terminators)}${word()}]",
      s"[${word()}${pick(terminators)} ${word()}]", s"[é ${word()}]", "[", "]"))
    case 7 => pick(terminators)
    case 8 =>
      val t = name()
      lt() + t + gt() + phrase(1, 3) + fuzz() + lt() + "/" + pick(Seq(t, name())) + gt()
    case 9 => Seq.fill(between(1, 6))(pick("<>/![]{}|'=-_ ")).mkString
    case _ => pick(Seq("<i <b>", "<!--<!-->", "<br <br/>", "<b <!-- x --> >", "&amp;lt;b&amp;gt;"))
  }

  private def sentence(): String = {
    val s = Seq.fill(between(6, 22))(token()).mkString(" ")
    s.take(1).toUpperCase + s.drop(1) + "."
  }

  private def paragraph(wordsLeft: Int): (String, Int) = {
    val parts = Seq.newBuilder[String]
    var used = 0
    while (used < wordsLeft) {
      var s = sentence()
      used += s.count(_ == ' ') + 1
      val x = rng.nextDouble()
      if (x < 0.12) s += " " + template(1)
      else if (x < 0.20) s += "&lt;ref&gt;" + phrase(2, 6) + "&lt;/ref&gt;"
      else if (x < 0.23) s += "&lt;ref name=\"" + word() + "\" /&gt;"
      else if (x < 0.26) s += " &lt;!-- " + phrase(2, 5) + " --&gt;"
      else if (x < 0.28) s += " &lt;math&gt;x^2 + " + word() + "&lt;/math&gt;"
      else if (x < 0.30) s += " &lt;code&gt;" + word() + "()&lt;/code&gt;"
      parts += s
    }
    (parts.result().mkString(" "), used)
  }

  /** One page body. */
  def page(): String = {
    val nWords = math.min(400, math.max(5, math.exp(3.0 + 1.0 * rng.nextGaussian()).toInt))
    val out = Seq.newBuilder[String]
    if (rng.nextDouble() < 0.5) out += template(1)
    out += s"'''${word().capitalize}''' ${sentence()}"
    var left = nWords
    while (left > 0) {
      val (para, used) = paragraph(math.min(left, between(30, 120)))
      out += para
      left -= used
      val x = rng.nextDouble()
      if (x < 0.10) out += table(1)
      else if (x < 0.20) {
        val bullet = pick(Seq("*", "#", ":", ";"))
        out ++= Seq.fill(between(2, 5))(bullet + " " + phrase(2, 8))
      } else if (x < 0.25) out ++= Seq.fill(between(1, 3))(" " + phrase(2, 6))
      if (left > 0 && rng.nextDouble() < 0.35) {
        val level = if (rng.nextDouble() < 0.7) "==" else "==="
        out += s"$level ${phrase(1, 3).capitalize} $level"
        if (rng.nextDouble() < 0.15) out += s"$level ${phrase(1, 2).capitalize} $level"
      }
    }
    out.result().mkString("\n")
  }
}
