package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

import graft.sources.WikiXmlSource
import graft.wiki.{WikiMarkup, WikiPipeline}

/** The paper's own path: a MediaWiki dump through `WikiPipeline.run` and
  * `WikiPipeline.write` to a directory (what `WikiMain` does).
  */
object WikiExtract {

  /** Split size of the split-boundary check's single-file read. */
  val SplitCheckBytes: Long = 64L * 1024

  /** Spark-free pass over a dump's part files: the same record split,
    * parse, filter, clean, compact and sentence rendering, producing the
    * bytes `WikiPipeline.write` must write for the pages of each part.
    * Times each kernel when asked.
    */
  final class KernelPass(parts: Seq[String]) {
    // TextInputFormat with the `</page>` delimiter: the text between
    // delimiters, the delimiter itself dropped
    val records: Seq[Array[String]] = parts.map(_.split("</page>", -1))
    var parseNs, cleanNs, compactNs = 0L
    var pages, articles = 0

    private def isArticle(p: graft.sources.WikiPage): Boolean = {
      val colon = p.title.indexOf(':')
      !p.redirect && (colon < 0 ||
        WikiMarkup.acceptedNamespaces.contains(p.title.substring(0, colon)))
    }

    /** The bytes written for the pages of part `i`. */
    def render(i: Int, timed: Boolean): String = {
      val sb = new java.lang.StringBuilder
      for (record <- records(i)) {
        val t0 = if (timed) System.nanoTime() else 0L
        val page = WikiXmlSource.parsePage(record)
        val t1 = if (timed) System.nanoTime() else 0L
        page.foreach { p =>
          if (timed) pages += 1
          if (isArticle(p)) {
            val cleaned = WikiMarkup.clean(p.text)
            val t2 = if (timed) System.nanoTime() else 0L
            val lines = WikiMarkup.compact(cleaned)
            if (timed) {
              val t3 = System.nanoTime()
              cleanNs += t2 - t1
              compactNs += t3 - t2
              articles += 1
            }
            val rendered = "\n" + p.title + ":" + "\n" + lines.map(_ + "\n").mkString
            // the text sink writes each row plus '\n' after
            // WikiPipeline.write strips a trailing newline
            sb.append(rendered.replaceAll("\\n$", "")).append('\n')
          }
        }
        if (timed) parseNs += t1 - t0
      }
      sb.toString
    }

    /** [[recordsDigest]] of the whole dump's rendering, one thread per part. */
    def digest(): String = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(records.size)
      try {
        recordsDigest(records.indices.map { i =>
          pool.submit(new java.util.concurrent.Callable[String] {
            def call(): String = render(i, timed = false)
          })
        }.map(_.get()))
      } finally pool.shutdownNow()
    }
  }

  /** SHA-256 of the sorted page records in rendered output texts: the pages
    * written, each once, whatever files and order they were written in.
    * Each record is written as an empty line, `Title:` and its lines, so a
    * record starts at each blank line.
    */
  def recordsDigest(texts: Seq[String]): String = {
    val recs = texts.filter(_.nonEmpty)
      .flatMap(_.stripPrefix("\n").stripSuffix("\n").split("\n\n", -1)).sorted
    FileUtil.sha256(recs.iterator.map(r => (r + "\u0000").getBytes(UTF_8)))
  }

  def outputText(dir: Path): Seq[String] =
    FileUtil.parts(dir).map(f => new String(Files.readAllBytes(f), UTF_8))

  /** Reference-parity fixtures: (dump, expected output, config). */
  private val fixtures = Seq(
    ("wiki_e2e_dump.xml", "wiki_e2e_expected.txt", WikiPipeline.Config()),
    ("wiki_incub_dump.xml", "wiki_incub_expected.txt",
      WikiPipeline.Config(incubator = Some("enm"))))

  /** Replaces the first output part's last line: a page lost or damaged
    * on the way out, as a split-boundary bug would leave it.
    */
  private def corrupt(dir: Path): Unit = {
    val f = FileUtil.parts(dir).find(Files.size(_) > 0).get
    val s = new String(Files.readAllBytes(f), UTF_8)
    Files.write(f, s.stripSuffix("\n").reverse.dropWhile(_ != '\n').reverse.getBytes(UTF_8))
  }

  def run(h: Harness): Unit = {
    val a = h.a
    val dump = a.input.resolve("dump")
    val dumpParts = FileUtil.parts(dump)
    val dumpMb = dumpParts.map(Files.size).sum / 1e6
    val fixtureRuns = scala.collection.mutable.ArrayBuffer[(Path, Path)]()

    // set-up: session, the reference fixtures through the full path, and
    // one untimed op on the dump
    val (spark, setups) = h.setup { s =>
      fixtureRuns.clear()
      for (((in, exp, cfg), i) <- fixtures.zipWithIndex) {
        val out = a.work.resolve(s"fixture-$i")
        WikiPipeline.write(WikiPipeline.run(s, a.fixtures.resolve(in).toString, cfg), out.toString)
        fixtureRuns += out -> a.fixtures.resolve(exp)
      }
      val warm = a.work.resolve("warm")
      WikiPipeline.write(WikiPipeline.run(s, dump.toString), warm.toString)
      FileUtil.deleteTree(warm)
    }
    // byte parity with the reference CLI's output on both fixtures
    for ((out, exp) <- fixtureRuns)
      h.attempt(s"parity ${exp.getFileName}") {
        if (a.corrupt) corrupt(out)
        outputText(out).mkString
      } { got =>
        val want = new String(Files.readAllBytes(exp), UTF_8)
        if (got == want) None else Some(s"parity ${exp.getFileName}: output differs")
      }

    // the Spark-free rendering whose page records every Spark run must
    // write; computing it a few times also brings the kernels' JIT to
    // steady state before the timed loop
    val dumpText = dumpParts.map(f => new String(Files.readAllBytes(f), UTF_8))
    val kernel = new KernelPass(dumpText)
    val expected = kernel.digest()
    h.attempt("kernel pass is deterministic")((1 to 2).map(_ => kernel.digest())) { ds =>
      if (ds.forall(_ == expected)) None else Some("Spark-free pass digests differ between passes")
    }

    // split boundaries: the dump as one file, read in 64 KB splits, must
    // give every page exactly once
    val single = a.work.resolve("dump-single.xml")
    Files.writeString(single, dumpText.mkString)
    val wantIds = dumpText.mkString.split("</page>", -1).toSeq
      .flatMap(WikiXmlSource.parsePage).map(_.id).sorted
    h.attempt("split-boundary pages") {
      val ds = WikiXmlSource.pages(spark, single.toString, maxSplitBytes = SplitCheckBytes)
      val ids = ds.collect().map(_.id).toSeq
      (ds.rdd.getNumPartitions, if (a.corrupt) ids.drop(1) else ids)
    } { case (splits, ids) =>
      val got = ids.sorted
      if (splits < 2) Some(s"split-boundary pages: the dump fits in $splits split")
      else if (got == wantIds) None
      else Some(s"split-boundary pages: ${got.size} pages from $splits splits, " +
        s"${wantIds.size} in the dump, ${got.diff(wantIds).size} extra, " +
        s"${wantIds.diff(got).size} missing")
    }
    Files.delete(single)

    def extract(i: Int): Option[Sample] = {
      val out = a.work.resolve(s"out-$i")
      val res = h.attempt(s"extract $i") {
        val s = h.timed(spark, "extract") { commit =>
          val rendered = WikiPipeline.run(spark, dump.toString)
          commit()
          WikiPipeline.write(rendered, out.toString)
        }
        if (a.corrupt) corrupt(out)
        s.copy(files = FileUtil.parts(out).size)
      } { _ =>
        val got = recordsDigest(outputText(out))
        if (got == expected) None
        else Some(s"extract $i: written pages (digest $got) differ from the Spark-free pass's ($expected)")
      }
      FileUtil.deleteTree(out)
      res
    }

    val samples =
      if (!a.trace) h.loop(a.seconds, 3)(extract)
      else Tracing.untracedThenTraced(h, spark, a.seconds, 3)(extract)
    h.endToEnd(samples, samples, dumpMb, setups)
    h.detail("input_mb") = dumpMb

    if (a.trace) {
      // single-thread kernel baseline (the reference runs 0.39 MB/s on one core)
      kernel.records.indices.foreach(kernel.render(_, timed = true))
      h.metric("wiki.parse_1t_mb_s", dumpMb / (kernel.parseNs / 1e9), "MB/s")
      h.metric("wiki.clean_1t_mb_s", dumpMb / (kernel.cleanNs / 1e9), "MB/s")
      h.metric("wiki.compact_1t_mb_s", dumpMb / (kernel.compactNs / 1e9), "MB/s")
      h.metric("wiki.kernel_1t_mb_s",
        dumpMb / ((kernel.parseNs + kernel.cleanNs + kernel.compactNs) / 1e9), "MB/s")
      // prefix timings: source only, then extract+render into a noop sink;
      // the full run is the op itself
      def secs(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
      val source = Stats.median((1 to 3).map(_ =>
        secs(WikiXmlSource.pages(spark, dump.toString).count())))
      val noop = Stats.median((1 to 3).map(_ => secs(
        WikiPipeline.run(spark, dump.toString).write.format("noop").mode("overwrite").save())))
      h.metric("wiki.source_s", source, "s")
      h.metric("wiki.extract_s", noop, "s")
      h.metric("wiki.write_s", Stats.median(samples.map(_.wallS)), "s")
      h.metric("wiki.pages_read", kernel.pages, "count")
      h.metric("wiki.kept_frac", kernel.articles.toDouble / math.max(1, kernel.pages), "ratio")
    }
  }
}
