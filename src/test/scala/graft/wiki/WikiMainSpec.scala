package graft.wiki

import org.scalatest.funsuite.AnyFunSuite

/** WikiMain's command line, parsed without a Spark session. */
class WikiMainSpec extends AnyFunSuite {
  import WikiMain.{Args, parseArgs}

  test("every flag parses into the run's arguments") {
    val got = parseArgs(List("--infn", "d.xml", "--out", "o", "--incubator", "enm",
      "--vitalfn", "v.txt", "--compress", "--keep-links", "--structure",
      "--expand-templates=best-effort"))
    assert(got == Right(Args("d.xml", "o", WikiPipeline.Config(keepLinks = true,
      structure = true, incubator = Some("enm"), vitalFn = Some("v.txt"),
      expandTemplates = true,
      templateOverflow = WikiPipeline.TemplateOverflow.BestEffort), compress = true)))
    assert(parseArgs(List("--infn", "d.xml")) == Right(Args(infn = "d.xml")))
  }

  test("a value-taking flag given last is a usage error, not an index crash") {
    for (flag <- Seq("--infn", "--out", "--incubator", "--vitalfn"))
      assert(parseArgs(List("--infn", "d.xml", flag)) == Left(s"$flag needs a value"))
  }

  test("a missing --infn and an unknown argument are usage errors") {
    assert(parseArgs(Nil) == Left("Please include --infn FILENAME in your command."))
    assert(parseArgs(List("--out", "o")).isLeft)
    assert(parseArgs(List("--infn", "d.xml", "--bogus")) == Left("unknown argument: --bogus"))
  }
}
