package graft.wiki

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** Property tests for the markup engine's invariants. */
object WikiPropertiesSpec extends Properties("WikiMarkup") {

  private val word = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
  private val plainText = Gen.nonEmptyListOf(word).map(_.mkString(" "))

  property("clean is the identity on plain word text") =
    forAll(plainText) { t => WikiMarkup.clean(t) == t }

  property("normalizeTitle is idempotent") = {
    val title = Gen.nonEmptyListOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(' ', '_', ':')))
      .map(_.mkString)
    forAll(title) { t =>
      val once = WikiMarkup.normalizeTitle(t)
      WikiMarkup.normalizeTitle(once) == once
    }
  }

  property("dropNested removes every balanced template block") = {
    lazy val block: Gen[String] = Gen.sized { size =>
      if (size <= 1) word.map(w => s"{{$w}}")
      else Gen.oneOf(
        word.map(w => s"{{$w}}"),
        Gen.zip(word, Gen.resize(size / 2, Gen.lzy(block)))
          .map { case (w, inner) => s"{{$w $inner}}" })
    }
    val textWithBlocks = for {
      pre <- plainText; b <- block; post <- plainText
    } yield s"$pre $b $post"
    forAll(textWithBlocks) { t =>
      val out = WikiMarkup.dropNested(t, "{{", "}}")
      !out.contains("{{") && !out.contains("}}")
    }
  }

  property("unescape round-trips decimal refs of printable ASCII") =
    forAll(Gen.choose(32, 126)) { cp =>
      WikiMarkup.unescape(s"&#$cp;") == cp.toChar.toString
    }
}
