package graft

import java.nio.file.{Files, Paths}

import graft.sources.WarcSource

/** Throughput evidence for the splittable `.warc.gz` reader: build a
  * synthetic per-record-gzip-member archive (the Common Crawl layout —
  * N response records of ~2 KB HTML, one gzip member each), then parse
  * it end-to-end twice: through the Hadoop-codec path (`records` — gzip
  * is opaque to the codec, ONE task for the whole archive) and through
  * [[graft.sources.WarcGzInputFormat]] (`recordsGz` — member-boundary
  * resynchronization, every split an independent task). Identical
  * record counts pin correctness; the wall ratio is the point: the
  * splittable path scales with cores while the codec path is serial by
  * construction, and at Common Crawl scale (a segment is ~1 GB × 64k
  * files… but a single ARCHIVE is the unit a task gets) the difference
  * is the intake's critical path.
  *
  * Run: `runMain graft.WarcGzBench [records=100000] [out.json]`.
  */
object WarcGzBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(100000)
    val out = args.lift(1)
    val cpus = Tables.localCpus
    val spark = Tables.newSession("graft-warcgzbench", s"local[$cpus]", cpus)

    val dir = Files.createDirectories(Paths.get("target/tmp/warcgzbench"))
    val path = dir.resolve("bench.warc.gz")
    val crlf = "\r\n"
    val osf = Files.newOutputStream(path)
    var i = 0
    val blob = new Array[Byte](1024)
    while (i < n) {
      // per-record pseudo-random body: real page entropy, so the archive
      // compresses like a crawl (not to nothing) and really yields
      // many splits
      new java.util.Random(i).nextBytes(blob)
      val filler = java.util.Base64.getEncoder.encodeToString(blob)
      val body = s"<html><head><title>Doc $i</title></head><body><p>page $i" +
        s"</p><p>$filler</p></body></html>"
      val http = s"HTTP/1.1 200 OK${crlf}Content-Type: text/html$crlf$crlf$body"
      val rec = s"WARC/1.0${crlf}WARC-Type: response$crlf" +
        s"WARC-Target-URI: http://bench.example/p$i$crlf" +
        s"WARC-Record-ID: <urn:uuid:bench-$i>$crlf" +
        s"Content-Type: application/http;msgtype=response$crlf$crlf" +
        http + crlf + crlf
      val gz = new java.util.zip.GZIPOutputStream(osf) {
        // keep the underlying stream open across members
        override def close(): Unit = { finish(); flush() }
      }
      gz.write(rec.getBytes("UTF-8")); gz.close()
      i += 1
    }
    osf.close()
    val bytes = Files.size(path)

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    // warm the page cache so both paths read memory-resident bytes
    WarcSource.recordsGz(spark, path.toString).count()

    val (codecN, codecS) = time(WarcSource.records(spark, path.toString).count())
    val split = WarcSource.recordsGz(spark, path.toString)
    val parts = split.rdd.getNumPartitions
    val (splitN, splitS) = time(split.count())
    val speedup = codecS / splitS
    val json =
      f"""{"records":$n,"archive_bytes":$bytes,"codec_tasks":1,"codec_secs":$codecS%.1f,"split_tasks":$parts,"split_secs":$splitS%.1f,"speedup":$speedup%.1f,"rows_equal":${codecN == splitN && splitN == n.toLong}}"""
    println(json)
    out.foreach(p => Files.write(Paths.get(p), json.getBytes("UTF-8")))
    spark.stop()
  }
}
