package graft

import org.apache.spark.sql.functions._

/** Wiki-pipeline scale bench: synthesizes a deterministic `nPages` dump
  * (word-salad bodies with templates, links, headers and lists — the same
  * markup mix as the 302 MB head-to-head dump, ~15 KB/page) as a directory
  * of parts if absent, then times dump → parse → clean → sentence render.
  * 200k pages ≈ 3 GB ≈ 10× the round-1 head-to-head, to surface the next
  * scaling cliff before the driver does.
  *
  * Usage: `runMain graft.WikiBench [nPages] [dumpDir]`.
  */
object WikiBench {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 200000
    val dir = if (args.length > 1) args(1) else s"/tmp/graft_wiki_bench_$n"
    val cpus = Tables.localCpus
    val spark = Tables.newSession("graft-wiki-bench", s"local[$cpus]", cpus)
    import spark.implicits._

    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(dir))) {
      val vocab = 5000
      def salad(seedCol: org.apache.spark.sql.Column, words: Int) =
        concat_ws(" ", transform(sequence(lit(0), lit(words - 1)),
          i => concat(lit("w"), pmod(xxhash64(seedCol, i), lit(vocab.toLong)))))
      val page = spark.range(1, n + 1).select(concat(
        lit("<page>\n<title>Perf Page "), col("id"), lit("</title>\n<ns>0</ns>\n<id>"),
        col("id"), lit("</id>\n<revision>\n<id>"), col("id") + 1000000,
        lit("</id>\n<text xml:space=\"preserve\">'''Page "), col("id"),
        lit("''' is about "), salad(col("id"), 40),
        lit(" {{infobox|a=1|b="), salad(col("id") + 7, 8), lit("}}.\n== History ==\n"),
        salad(col("id") + 13, 900),
        lit(" with a [[w:Linked Page|link]] and [[Dropped:Ns|gone]].\n* item one\n* item two\n== Detail ==\n"),
        salad(col("id") + 29, 900),
        lit("\n<!-- a comment --> <ref>cite</ref> done.\n</text>\n</revision>\n</page>")
      ).as("value"))
      page.repartition(cpus).write.text(dir)
      // header part so basePrefix() still resolves against the directory
      // (NOT underscore-prefixed: Hadoop's input layer silently ignores
      // files starting with _ or .)
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, "aa-header.xml"),
        "<mediawiki xml:lang=\"en\">\n<siteinfo>\n<base>http://perf.example.org/wiki/Main_Page</base>\n</siteinfo>\n".getBytes)
    }
    val bytes = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size).sum

    val t0 = System.nanoTime()
    val rendered = graft.wiki.WikiPipeline.run(spark, dir)
    val lines = rendered.select(sum(length(col("rendered")))).head().getLong(0)
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"""{"pages":$n,"input_mb":${bytes / 1e6}%.1f,"output_chars":$lines,"secs":$secs%.1f,"mb_per_sec":${bytes / 1e6 / secs}%.1f}""")
    spark.stop()
  }
}
