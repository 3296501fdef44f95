package graftbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.pipeline.CorpusPipeline

/** The composed curation pipeline: `CorpusPipeline.curate` with
  * `c01_curate`'s config (near-dedup on, 5-gram contamination, the
  * default `Materialize`), output written as parquet.
  */
object CurateCorpus {

  val config: CorpusPipeline.Config = CorpusPipeline.Config(
    langs = Set("en", "fr", "es", "de", "zh", "und"),
    minQuality = 0.3, nearDupThreshold = 0.7, contaminationNgram = 5)

  private def planted(input: Path, kind: String): Set[Long] = {
    import scala.jdk.CollectionConverters._
    Json.read(input.resolve("meta.json")).get("planted").get(kind).elements().asScala
      .map(_.asLong).toSet
  }

  def run(h: Harness): Unit = {
    val a = h.a
    val twins = planted(a.input, "exact_twin") ++ planted(a.input, "near_twin")
    val contaminated = planted(a.input, "contaminated")
    val digestFile = a.state.resolve(s"curate-${a.input.getFileName}.kept.sha256")
    def docs(s: SparkSession): DataFrame = Tables(s, a.input.toString, "docs")
    def evalSet(s: SparkSession): DataFrame = Tables(s, a.input.toString, "eval")
    val textMb = Json.read(a.input.resolve("meta.json")).get("text_bytes").asDouble / 1e6

    // set-up: session plus one untimed op
    val (spark, setups) = h.setup { s =>
      val warm = a.work.resolve("warm")
      CorpusPipeline.curate(docs(s), "text", "doc_id", config, Some(evalSet(s)))
        .write.mode("overwrite").parquet(warm.toString)
      FileUtil.deleteTree(warm)
    }

    var firstDigest: Option[String] = None
    var curateS = Seq.empty[Double]
    def curate(i: Int): Option[Sample] = {
      val out = a.work.resolve(s"out-$i")
      var tCurate = 0.0
      val res = h.attempt(s"curate $i") {
        val s = h.timed(spark, "curate") { commit =>
          val t0 = System.nanoTime()
          val kept = CorpusPipeline.curate(docs(spark), "text", "doc_id", config,
            Some(evalSet(spark)))
          tCurate = (System.nanoTime() - t0) / 1e9
          commit()
          kept.write.mode("overwrite").parquet(out.toString)
        }.copy(files = FileUtil.parts(out).size)
        if (a.corrupt) // a planted twin slips through
          spark.range(1).select(org.apache.spark.sql.functions.lit(twins.head).as("doc_id"))
            .write.mode("append").parquet(out.toString)
        s
      } { _ =>
        val ids = spark.read.parquet(out.toString).select("doc_id").collect()
          .map(_.getLong(0)).sorted
        val digest = FileUtil.sha256(Iterator(ids.mkString(",").getBytes("UTF-8")))
        val leaked = ids.filter(id => twins(id) || contaminated(id))
        val prior = firstDigest.orElse(
          if (Files.exists(digestFile)) Some(Files.readString(digestFile)) else None)
        if (leaked.nonEmpty)
          Some(s"curate $i: ${leaked.length} planted twins/contaminated docs kept, e.g. ${leaked.head}")
        else if (prior.exists(_ != digest))
          Some(s"curate $i: kept-id digest $digest differs from an earlier run's ${prior.get}")
        else {
          if (firstDigest.isEmpty) {
            firstDigest = Some(digest)
            if (!Files.exists(digestFile)) Files.writeString(digestFile, digest)
          }
          None
        }
      }
      if (res.isDefined) curateS :+= tCurate
      FileUtil.deleteTree(out)
      res
    }

    val samples =
      if (!a.trace) h.loop(a.seconds, 3)(curate)
      else Tracing.untracedThenTraced(h, spark, a.seconds, 3)(curate)
    h.endToEnd(samples, samples, textMb, setups)
    h.detail("input_text_mb") = textMb

    if (a.trace) {
      h.metric("pipeline.curate_s", Stats.median(curateS), "s")
      val audit = CorpusPipeline.curateAudit(docs(spark), "text", "doc_id", config,
        Some(evalSet(spark))).groupBy("verdict").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val total = audit.values.sum.toDouble
      h.metric("pipeline.kept_frac", audit.getOrElse("kept", 0L) / total, "ratio")
      for ((verdict, name) <- Seq("lang_quality" -> "drop_lang_quality",
        "exact_dup" -> "drop_exact", "near_dup" -> "drop_near",
        "contaminated" -> "drop_contamination"))
        h.metric(s"pipeline.$name", audit.getOrElse(verdict, 0L).toDouble, "count")
      h.detail("audit") = audit
    }
  }
}
