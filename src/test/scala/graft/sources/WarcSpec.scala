package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** WARC source (L61): ISO 28500 record parsing, HTTP envelope split, the
  * gzip fallback path, and the htmlDocuments crawl-intake head.
  */
class WarcSpec extends SparkSpec {

  private val CRLF = "\r\n"

  private def record(headers: Seq[(String, String)], payload: String): String =
    "WARC/1.0" + CRLF +
      headers.map { case (k, v) => s"$k: $v" }.mkString(CRLF) +
      CRLF + CRLF + payload + CRLF + CRLF

  private def httpResponse(status: String, ct: String, body: String): String =
    s"HTTP/1.1 $status" + CRLF +
      s"Content-Type: $ct" + CRLF +
      "Server: test" + CRLF + CRLF + body

  private def sampleWarc: String = {
    val html = "<html><head><title>Page &amp; One</title></head>" +
      "<body><script>var s = \"WARC/1.0\";</script>" +
      "<p>hello crawl</p><p>second para</p></body></html>"
    record(Seq(
      "WARC-Type" -> "warcinfo",
      "WARC-Date" -> "2026-08-14T00:00:00Z",
      "WARC-Record-ID" -> "<urn:uuid:info-1>",
      "Content-Type" -> "application/warc-fields"),
      "software: graft-test" + CRLF) +
      record(Seq(
        "WARC-Type" -> "request",
        "WARC-Target-URI" -> "http://example.com/a",
        "WARC-Record-ID" -> "<urn:uuid:req-1>",
        "Content-Type" -> "application/http;msgtype=request"),
        "GET /a HTTP/1.1" + CRLF + "Host: example.com" + CRLF) +
      record(Seq(
        "WARC-Type" -> "response",
        "WARC-Target-URI" -> "http://example.com/a",
        "WARC-Date" -> "2026-08-14T00:00:01Z",
        "WARC-Record-ID" -> "<urn:uuid:resp-1>",
        "Content-Type" -> "application/http;msgtype=response"),
        httpResponse("200 OK", "text/html; charset=UTF-8", html)) +
      record(Seq(
        "WARC-Type" -> "response",
        "WARC-Target-URI" -> "http://example.com/missing",
        "WARC-Record-ID" -> "<urn:uuid:resp-2>",
        "Content-Type" -> "application/http;msgtype=response"),
        httpResponse("404 Not Found", "text/html", "<p>nope</p>")) +
      record(Seq(
        "WARC-Type" -> "response",
        "WARC-Target-URI" -> "http://example.com/robots.txt",
        "WARC-Record-ID" -> "<urn:uuid:resp-3>",
        "Content-Type" -> "application/http;msgtype=response"),
        httpResponse("200 OK", "text/plain", "User-agent: *"))
  }

  private def writeFile(name: String, bytes: Array[Byte]): String = {
    val dir = Files.createDirectories(Paths.get("target/tmp"))
    val p = dir.resolve(name)
    Files.write(p, bytes)
    p.toString
  }

  test("parses all record types with headers and HTTP envelopes split") {
    val p = writeFile("sample.warc", sampleWarc.getBytes("UTF-8"))
    val recs = WarcSource.records(spark, p).collect()
    assert(recs.length == 5)
    assert(recs.map(_.warcType).sorted.toSeq ==
      Seq("request", "response", "response", "response", "warcinfo"))

    val info = recs.find(_.warcType == "warcinfo").get
    assert(info.url == null && info.httpStatus == -1)
    assert(info.body == "software: graft-test")

    val ok = recs.find(_.recordId == "<urn:uuid:resp-1>").get
    assert(ok.url == "http://example.com/a")
    assert(ok.httpStatus == 200)
    assert(ok.httpContentType == "text/html; charset=UTF-8")
    assert(ok.body.startsWith("<html>") && ok.body.endsWith("</html>"))
    // the payload's embedded "WARC/1.0" string did NOT false-split
    assert(ok.body.contains("WARC/1.0"))

    val notFound = recs.find(_.recordId == "<urn:uuid:resp-2>").get
    assert(notFound.httpStatus == 404)

    val req = recs.find(_.warcType == "request").get
    assert(req.httpStatus == -1 && req.body.startsWith("GET /a"))
  }

  test("a payload embedding the full record delimiter false-splits but flags truncated") {
    // the documented bound: a body that CONTAINS `CRLF CRLF "WARC/"` (a
    // page quoting raw WARC content) does split there — the cut record
    // must surface as `truncated` via the Content-Length cross-check, and
    // records with an accurate Content-Length stay unflagged
    val evilBody = httpResponse("200 OK", "text/plain",
      "quoted raw warc follows" + CRLF + CRLF + "WARC/1.0 is the version line")
    val goodBody = httpResponse("200 OK", "text/plain", "clean page")
    def withLen(headers: Seq[(String, String)], payload: String): String =
      record(headers :+ ("Content-Length" ->
        payload.getBytes("UTF-8").length.toString), payload)
    val warc =
      withLen(Seq(
        "WARC-Type" -> "response",
        "WARC-Target-URI" -> "http://example.com/evil",
        "WARC-Record-ID" -> "<urn:uuid:evil-1>",
        "Content-Type" -> "application/http;msgtype=response"), evilBody) +
      withLen(Seq(
        "WARC-Type" -> "response",
        "WARC-Target-URI" -> "http://example.com/clean",
        "WARC-Record-ID" -> "<urn:uuid:clean-1>",
        "Content-Type" -> "application/http;msgtype=response"), goodBody)
    val p = writeFile("evil.warc", warc.getBytes("UTF-8"))
    val recs = WarcSource.records(spark, p).collect()
    // the false-split tail ("WARC/1.0 is the …" remainder) is a
    // non-record chunk — dropped, never a task failure
    assert(recs.length == 2, recs.map(_.recordId).toSeq.toString)
    val evil = recs.find(_.recordId == "<urn:uuid:evil-1>").get
    assert(evil.truncated, "cut record must be flagged")
    assert(evil.body.endsWith("quoted raw warc follows"), evil.body)
    val clean = recs.find(_.recordId == "<urn:uuid:clean-1>").get
    assert(!clean.truncated)
    assert(clean.body == "clean page")
  }

  test("per-member .warc.gz reads splittably and row-equals the uncompressed twin") {
    // the real Common Crawl layout: one gzip MEMBER per record; pad the
    // archive with enough records that a small maxSplitBytes yields
    // several splits whose boundaries land mid-member
    def gzMember(s: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(s.getBytes("UTF-8")); gz.close()
      bos.toByteArray
    }
    val extra = (1 to 120).map { i =>
      record(Seq(
        "WARC-Type" -> "response",
        "WARC-Target-URI" -> s"http://example.com/p$i",
        "WARC-Record-ID" -> s"<urn:uuid:bulk-$i>",
        "Content-Type" -> "application/http;msgtype=response"),
        httpResponse("200 OK", "text/html",
          s"<p>page $i</p>" + ("filler words here " * 40)))
    }
    val all = sampleWarc +: extra
    val bos = new java.io.ByteArrayOutputStream()
    // sampleWarc is 5 concatenated records in ONE member (multi-record
    // members must still parse); the rest are member-per-record
    all.foreach(r => bos.write(gzMember(r)))
    val gzPath = writeFile("members.warc.gz", bos.toByteArray)
    val plainPath = writeFile("members.warc", all.mkString.getBytes("UTF-8"))

    val split = WarcSource.recordsGz(spark, gzPath, maxSplitBytes = 8 * 1024)
    // >1 task: the split read is really parallel, not one-task-per-file
    assert(split.rdd.getNumPartitions > 1,
      s"expected multiple splits, got ${split.rdd.getNumPartitions}")
    val a = split.collect().sortBy(r => (r.recordId, r.url))
    val b = WarcSource.records(spark, plainPath).collect()
      .sortBy(r => (r.recordId, r.url))
    assert(a.length == 125 && a.toSeq == b.toSeq,
      s"splittable gz ${a.length} rows vs plain ${b.length}")
    // the one-task Hadoop-codec read of the same archive reads every member
    assert(WarcSource.records(spark, gzPath).count() == 125)
    // the intake head routes through the splittable path too
    val html = WarcSource.htmlDocuments(spark, gzPath, gzMembers = true)
    assert(html.count() == 121, s"html intake: ${html.count()}")
  }

  test("garbage between gzip members is skipped, not a task failure") {
    def gzMember(s: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(s.getBytes("UTF-8")); gz.close()
      bos.toByteArray
    }
    val r1 = record(Seq("WARC-Type" -> "response",
      "WARC-Target-URI" -> "http://example.com/ok1",
      "WARC-Record-ID" -> "<urn:uuid:g-1>",
      "Content-Type" -> "application/http;msgtype=response"),
      httpResponse("200 OK", "text/html", "<p>one</p>"))
    val r2 = r1.replace("ok1", "ok2").replace("g-1", "g-2")
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(gzMember(r1))
    // mid-archive garbage including a fake gzip magic that inflates to
    // nothing valid — resynchronization must step over it
    bos.write(Array[Byte](0x1f, 0x8b.toByte, 8, 0, 1, 2, 3, 4, 5, 6, 7))
    bos.write("plain text junk between members".getBytes("UTF-8"))
    bos.write(gzMember(r2))
    // a non-WARC gzip member: valid gzip, skipped by content
    bos.write(gzMember("not a warc record at all"))
    val p = writeFile("garbage.warc.gz", bos.toByteArray)
    val recs = WarcSource.recordsGz(spark, p).collect()
    assert(recs.map(_.recordId).sorted.toSeq ==
      Seq("<urn:uuid:g-1>", "<urn:uuid:g-2>"), recs.map(_.recordId).toSeq)
  }

  test("truncated .warc.gz archives degrade to fewer records, never failures") {
    def gzMember(s: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(s.getBytes("UTF-8")); gz.close()
      bos.toByteArray
    }
    val members = (1 to 30).map { i =>
      gzMember(record(Seq(
        "WARC-Type" -> "response",
        "WARC-Target-URI" -> s"http://example.com/t$i",
        "WARC-Record-ID" -> s"<urn:uuid:t-$i>",
        "Content-Type" -> "application/http;msgtype=response"),
        httpResponse("200 OK", "text/html", s"<p>page $i body text</p>")))
    }
    val full = members.flatten.toArray
    // cut mid-header, mid-deflate, mid-trailer, and at member boundaries:
    // every prefix must parse whatever complete members it holds and drop
    // the cut tail silently (the crash-mid-upload shape)
    val cuts = Seq(3, 10, full.length / 3, full.length / 2,
      full.length - 5, full.length - 1,
      members.take(7).map(_.length).sum) // exact member boundary
    for (cut <- cuts) {
      val p = writeFile(s"trunc_$cut.warc.gz", full.take(cut))
      val n = WarcSource.recordsGz(spark, p).count()
      val whole = {
        var acc = 0L; var seen = 0
        members.foreach { m =>
          if (acc + m.length <= cut) seen += 1
          acc += m.length
        }
        seen
      }
      assert(n == whole, s"cut=$cut: got $n records, want $whole")
    }
  }

  test("short stream reads never skip a genuine member during resync") {
    // FSDataInputStream.read may legally return fewer bytes than asked;
    // the resync scanner must keep refilling until the full 4-byte
    // magic+flags window is buffered (or EOF) before judging a
    // candidate — judging on stale bytes past bufLen silently drops the
    // member whose offset a later split starts at. Driven through a
    // FileSystem whose every read returns at most 2 bytes.
    def gzMember(s: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(s.getBytes("UTF-8")); gz.close()
      bos.toByteArray
    }
    val members = (1 to 40).map { i =>
      gzMember(record(Seq(
        "WARC-Type" -> "response",
        "WARC-Target-URI" -> s"http://example.com/sr$i",
        "WARC-Record-ID" -> s"<urn:uuid:sr-$i>",
        "Content-Type" -> "application/http;msgtype=response"),
        httpResponse("200 OK", "text/html", s"<p>short-read page $i</p>")))
    }
    val bytes = members.flatten.toArray
    val offsets = members.scanLeft(0L)(_ + _.length).init
    val local = writeFile("shortread.warc.gz", bytes)

    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    conf.setClass("fs.shortread.impl", classOf[ShortReadFileSystem],
      classOf[org.apache.hadoop.fs.FileSystem])
    conf.setBoolean("fs.shortread.impl.disable.cache", true)
    val path = new org.apache.hadoop.fs.Path(new java.net.URI(
      "shortread", null, new java.io.File(local).getAbsolutePath, null))

    // split boundaries: one EXACTLY on a member offset (the drop shape —
    // the second split's findMember starts with a near-empty buffer) and
    // two mid-member (ordinary resync)
    val total = bytes.length.toLong
    val bounds = Seq(0L, offsets(13), total / 2, total)
    val got = scala.collection.mutable.ArrayBuffer[Long]()
    val fmt = new WarcGzInputFormat
    for (se <- bounds.sliding(2)) {
      val split = new org.apache.hadoop.mapreduce.lib.input.FileSplit(
        path, se.head, se(1) - se.head, Array.empty[String])
      val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
        conf, new org.apache.hadoop.mapreduce.TaskAttemptID())
      val rr = fmt.createRecordReader(split, ctx)
      rr.initialize(split, ctx)
      while (rr.nextKeyValue()) got += rr.getCurrentKey.get()
      rr.close()
    }
    assert(got.sorted.toSeq == offsets.toSeq,
      s"got ${got.size} members at ${got.sorted.take(20)}…, want 40")
  }

  test("gzip WARC reads through the Hadoop codec (one task per file)") {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(sampleWarc.getBytes("UTF-8")); gz.close()
    val p = writeFile("sample.warc.gz", bos.toByteArray)
    val recs = WarcSource.records(spark, p).collect()
    assert(recs.length == 5)
    assert(recs.count(_.warcType == "response") == 3)
  }

  test("WARC/1.1 archives parse identically (version-agnostic delimiter)") {
    val v11 = sampleWarc.replace("WARC/1.0", "WARC/1.1")
    val p = writeFile("sample11.warc", v11.getBytes("UTF-8"))
    val recs = WarcSource.records(spark, p).collect()
    assert(recs.length == 5)
    assert(recs.count(_.warcType == "response") == 3)
    // the script payload's embedded version string (also rewritten by the
    // replace) still intact — no false split
    assert(recs.find(_.recordId == "<urn:uuid:resp-1>").get
      .body.contains("WARC/1.1"))
  }

  test("htmlDocuments keeps only 2xx text/html and extracts title + text") {
    val p = writeFile("sample2.warc", sampleWarc.getBytes("UTF-8"))
    val docs = WarcSource.htmlDocuments(spark, p).collect()
    assert(docs.length == 1)
    val d = docs.head
    assert(d.getString(0) == "http://example.com/a")
    assert(d.getString(1) == "Page & One")
    assert(d.getString(2) == "hello crawl\nsecond para")
  }

  test("htmlDocuments mainContentOnly drops link chrome at intake") {
    val prose = "The article prose is comfortably longer than the " +
      "minimum block size and is almost entirely unlinked text."
    val page = "<html><head><title>T</title></head><body>" +
      "<div><a href=\"/\">Home</a> <a href=\"/a\">About</a></div>" +
      s"<p>$prose</p>" +
      "<footer><a href=\"/terms\">Terms</a></footer></body></html>"
    val warc = record(Seq(
      "WARC-Type" -> "response",
      "WARC-Target-URI" -> "http://example.com/mc",
      "WARC-Record-ID" -> "<urn:uuid:mc-1>",
      "Content-Type" -> "application/http;msgtype=response"),
      httpResponse("200 OK", "text/html", page))
    val p = writeFile("sample_mc.warc", warc.getBytes("UTF-8"))
    val full = WarcSource.htmlDocuments(spark, p).head().getString(2)
    val mc = WarcSource.htmlDocuments(spark, p, mainContentOnly = true)
      .head().getString(2)
    assert(full.contains("Home") && full.contains("Terms"))
    assert(mc == prose, mc)
  }

  test("end-to-end crawl intake: WARC → html → URL tier → curate") {
    import org.apache.spark.sql.functions._
    val bodyA = "<html><body><p>This is the same page " +
      "about the sea and the sun and the wind.</p></body></html>"
    val bodyB = "<html><body><div>An entirely different page " +
      "about the moon and all of the quiet stars.</div></body></html>"
    def resp(uri: String, html: String, id: String) = record(Seq(
      "WARC-Type" -> "response",
      "WARC-Target-URI" -> uri,
      "WARC-Record-ID" -> s"<urn:uuid:$id>",
      "Content-Type" -> "application/http;msgtype=response"),
      httpResponse("200 OK", "text/html", html))
    val warc =
      resp("http://www.example.com/page?utm_source=x", bodyA, "a1") +
        resp("https://example.com/page", bodyA, "a2") + // URL-variant refetch
        resp("http://example.com/copy", bodyA, "a3") + // content replay
        resp("http://example.com/other", bodyB, "b1")
    val p = writeFile("intake.warc", warc.getBytes("UTF-8"))

    val docs = WarcSource.htmlDocuments(spark, p)
      .withColumn("u", graft.text.TextOps.normalizeUrl(col("url")))
      .withColumn("doc_id", xxhash64(col("url")))
    assert(docs.count() == 4)
    // URL identity tier: the utm/scheme/www variants collapse
    val urlDeduped = graft.dedup.Dedup.exact(docs, "u", "doc_id")
    assert(urlDeduped.count() == 3)
    assert(urlDeduped.select("u").distinct().count() == 3)
    // content tier + gate via the composed pipeline (exact-dedup path)
    val curated = graft.pipeline.CorpusPipeline.curate(
      urlDeduped, "text", "doc_id",
      graft.pipeline.CorpusPipeline.Config(
        langs = Set("en"), minQuality = 0.0, nearDupThreshold = 1.5))
    val out = curated.select("u").collect().map(_.getString(0)).sorted
    assert(out.length == 2)
    assert(out.exists(_.endsWith("/other")))
  }

  test("streaming records equal batch records over the same drop dir") {
    val dir = Files.createDirectories(Paths.get("target/tmp/warc_stream"))
    Files.write(dir.resolve("drop1.warc"), sampleWarc.getBytes("UTF-8"))
    val batch = WarcSource.records(spark, dir.toString).collect()
      .map(r => (r.recordId, r.warcType, r.httpStatus, r.body)).sortBy(_._1)
    val query = WarcSource.recordsStream(spark, dir.toString)
      .writeStream.format("memory").queryName("warc_stream_out")
      .outputMode("append").start()
    try {
      query.processAllAvailable()
      val streamed = spark.table("warc_stream_out")
        .collect()
        .map(r => (r.getAs[String]("recordId"), r.getAs[String]("warcType"),
          r.getAs[Int]("httpStatus"), r.getAs[String]("body"))).sortBy(_._1)
      assert(streamed.toSeq == batch.toSeq)
      assert(streamed.length == 5)
    } finally query.stop()
    // the html head carries an event timestamp for downstream watermarks
    val q2 = WarcSource.htmlDocumentsStream(spark, dir.toString)
      .writeStream.format("memory").queryName("warc_html_out")
      .outputMode("append").start()
    try {
      q2.processAllAvailable()
      val rows = spark.table("warc_html_out").collect()
      assert(rows.length == 1)
      val r = rows.head
      assert(r.getAs[String]("url") == "http://example.com/a")
      assert(r.getAs[java.sql.Timestamp]("ts") != null)
      assert(!r.getAs[Boolean]("noindex"))
      assert(r.getAs[String]("text") == "hello crawl\nsecond para")
    } finally q2.stop()
  }

  test("streaming crawl curation: drop dir → extraction → curateDocs state") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory(
      Files.createDirectories(Paths.get("target/tmp")), "warc_curate")
    val english = "the quick brown fox jumps over the lazy dog " +
      "and it was happy for the day " * 3
    def resp(uri: String, date: String, html: String) = record(Seq(
      "WARC-Type" -> "response",
      "WARC-Target-URI" -> uri,
      "WARC-Date" -> date,
      "WARC-Record-ID" -> s"<urn:uuid:$uri>",
      "Content-Type" -> "application/http;msgtype=response"),
      httpResponse("200 OK", "text/html", html))
    Files.write(dir.resolve("drop1.warc"), (
      resp("http://a.com/x", "2026-08-14T00:00:00Z",
        s"<html><body><p>$english one</p></body></html>") +
        resp("http://a.com/junk", "2026-08-14T00:00:01Z", "<p>zzz</p>") +
        resp("http://a.com/secret", "2026-08-14T00:00:02Z",
          "<html><head><meta name=\"robots\" content=\"noindex\"></head>" +
            s"<body><p>$english secret</p></body></html>")
      ).getBytes("UTF-8"))
    val intake = WarcSource.htmlDocumentsStream(spark, dir.toString)
      .filter(!col("noindex")) // honor the robots evidence at the gate
    val curated = graft.streaming.EventStreams.curateDocs(
      intake, "text", "ts", langs = Set("en"), minQuality = 0.3)
    val q = curated.writeStream.format("memory").queryName("warc_curated")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val b1 = spark.table("warc_curated").collect()
      assert(b1.map(_.getAs[String]("url")).toSeq == Seq("http://a.com/x"))
      assert(b1.head.getAs[String]("split") != null)
      // batch 2: the SAME page re-rendered with different markup at a new
      // URL (extracted text identical → exact state drops it) + a fresh one
      Files.write(dir.resolve("drop2.warc"), (
        resp("http://b.com/copy", "2026-08-14T00:10:00Z",
          s"<html><body><div>  $english one  </div></body></html>") +
          resp("http://b.com/new", "2026-08-14T00:10:01Z",
            s"<html><body><p>$english two</p></body></html>")
        ).getBytes("UTF-8"))
      q.processAllAvailable()
      val all = spark.table("warc_curated").collect()
        .map(_.getAs[String]("url")).sorted
      assert(all.toSeq == Seq("http://a.com/x", "http://b.com/new"),
        s"got ${all.toSeq}")
    } finally q.stop()
  }

  test("crawl graph: WARC → links → resolve → normalize → PageRank") {
    import org.apache.spark.sql.functions._
    import graft.text.{Html, TextOps}
    def resp(uri: String, html: String, id: String) = record(Seq(
      "WARC-Type" -> "response",
      "WARC-Target-URI" -> uri,
      "WARC-Record-ID" -> s"<urn:uuid:$id>",
      "Content-Type" -> "application/http;msgtype=response"),
      httpResponse("200 OK", "text/html", html))
    // a and b link to hub; hub links to a; b also cites hub with a
    // tracking param (must collapse to the same node via normalizeUrl)
    val warc =
      resp("http://s.com/a", "<a href=\"/hub\">h</a>", "a") +
        resp("http://s.com/b",
          "<a href=\"http://s.com/hub?utm_source=x\">h</a>", "b") +
        resp("http://s.com/hub", "<a href=\"a\">back</a>", "h")
    val p = writeFile("graph.warc", warc.getBytes("UTF-8"))
    val pages = WarcSource.records(spark, p.toString)
      .filter(r => r.warcType == "response").toDF()
    val edges = pages
      .select(TextOps.normalizeUrl(col("url")).as("src"),
        explode(Html.extractLinks(col("body"))).as("href"),
        col("url"))
      .select(col("src"),
        TextOps.normalizeUrl(TextOps.resolveUrl(col("url"), col("href")))
          .as("dst"))
    val got = edges.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(
      ("s.com/a", "s.com/hub"), ("s.com/b", "s.com/hub"),
      ("s.com/hub", "s.com/a")))
    val ranks = graft.operators.PageRank.run(edges, iters = 20)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(ranks.size == 3)
    assert(ranks("s.com/hub") == ranks.values.max)
  }

  test("robots captures gate the html intake from the same WARC") {
    import org.apache.spark.sql.functions._
    def resp(uri: String, ct: String, body: String, id: String) = record(Seq(
      "WARC-Type" -> "response",
      "WARC-Target-URI" -> uri,
      "WARC-Record-ID" -> s"<urn:uuid:$id>",
      "Content-Type" -> "application/http;msgtype=response"),
      httpResponse("200 OK", ct, body))
    val robots = "User-agent: *\r\nDisallow: /private"
    val warc =
      resp("http://s.com/robots.txt", "text/plain", robots, "r1") +
        resp("http://s.com/private/page", "text/html",
          "<p>secret text here</p>", "p1") +
        resp("http://s.com/public/page", "text/html",
          "<p>public text here</p>", "p2") +
        resp("http://open.org/anything", "text/html",
          "<p>uncaptured host</p>", "p3")
    val p = writeFile("robots.warc", warc.getBytes("UTF-8"))
    val reg = WarcSource.robotsByHost(spark, p)
    val regRows = reg.collect().map(r => (r.getString(0), r.getString(1)))
    assert(regRows.toSeq == Seq(("s.com", robots)))
    val kept = graft.text.Robots.filterAllowed(
      WarcSource.htmlDocuments(spark, p), "url", reg)
      .select("url").collect().map(_.getString(0)).sorted.toSeq
    assert(kept == Seq("http://open.org/anything", "http://s.com/public/page"))
  }

  test("garbage and truncated chunks yield no records, not failures") {
    val junk = "WARC/1.0" + CRLF + "no-colon-line" + CRLF + CRLF +
      "WARC-Type only half" + CRLF + CRLF + "WARC/1.0" + CRLF
    val p = writeFile("junk.warc", junk.getBytes("UTF-8"))
    assert(WarcSource.records(spark, p).collect().isEmpty)
  }
}

/** Test-only FileSystem whose streams return at most 2 bytes per read —
  * exercises the short-read path of WarcGzInputFormat's resync scanner
  * (must be top-level: Hadoop instantiates it reflectively).
  */
class ShortReadFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "shortread"
  override def getUri: java.net.URI = java.net.URI.create("shortread:///")
  override def open(f: org.apache.hadoop.fs.Path,
                    bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    val inner = super.open(f, bufferSize)
    new org.apache.hadoop.fs.FSDataInputStream(
      new org.apache.hadoop.fs.FSInputStream {
        override def read(): Int = inner.read()
        override def read(b: Array[Byte], off: Int, len: Int): Int =
          inner.read(b, off, math.min(len, 2))
        override def seek(pos: Long): Unit = inner.seek(pos)
        override def getPos: Long = inner.getPos
        override def seekToNewSource(targetPos: Long): Boolean = false
        override def close(): Unit = inner.close()
      })
  }
}
