package graftbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.Bridge

import graft.Tables
import graft.text.Search

/** Batched retrieval serving: one closed-loop client probes a BM25 and a
  * phrase index (`bm25ProbeBatch` / `phraseProbeBatch` on a cloned session
  * with auto bucketed scan off, the t29/t59 setting); every third op
  * appends new documents to both indexes.
  *
  * The mix (a BM25 batch of 8 queries, a phrase batch of 4 phrases, an
  * append of 40 documents, one op in three an append) is not taken from
  * measured traffic: it is chosen so a run of a few seconds holds reads of
  * both kinds and at least two appends.
  */
object ServeMixed {
  val Bm25 = "bench_bm25"
  val Phrase = "bench_phrase"
  val Buckets = 16
  val TopK = 10
  val AppendEvery = 3

  final case class Queries(bm25: IndexedSeq[Seq[String]], phrase: IndexedSeq[Seq[(String, Long)]])

  def loadQueries(h: Harness): Queries = {
    val root = Json.read(h.a.input.resolve("queries.json"))
    Queries(
      root.get("bm25").elements().asScala.map(_.elements().asScala.map(_.asText).toSeq).toIndexedSeq,
      root.get("phrase").elements().asScala.map(_.elements().asScala
        .map(p => (p.get(0).asText, p.get(1).asLong)).toSeq).toIndexedSeq)
  }

  private def bm25Frame(s: SparkSession, qs: Seq[String]): DataFrame = {
    import s.implicits._
    qs.zipWithIndex.map { case (q, i) => (s"q$i", q) }.toDF("query_id", "qtext")
  }

  private def phraseFrame(s: SparkSession, ps: Seq[(String, Long)]): DataFrame = {
    import s.implicits._
    ps.zipWithIndex.map { case ((p, _), i) => (s"p$i", p) }.toDF("query_id", "phrase")
  }

  def bm25Batch(s: SparkSession, qs: Seq[String]): Array[Row] =
    Search.bm25ProbeBatch(s, Bm25, "doc_id", bm25Frame(s, qs), "query_id", "qtext",
      topK = TopK).collect()

  def phraseBatch(s: SparkSession, ps: Seq[(String, Long)]): Array[Row] =
    Search.phraseProbeBatch(s, Phrase, "doc_id", phraseFrame(s, ps), "query_id", "phrase")
      .collect()

  def run(h: Harness): Unit = {
    val a = h.a
    val q = loadQueries(h)
    val corpusMb = Json.read(a.input.resolve("meta.json")).get("text_bytes").asDouble / 1e6
    def appends(s: SparkSession): DataFrame = Tables(s, a.input.toString, "appends")

    // set-up: session plus both indexes built from the seeded corpus, so
    // every run starts from the same pristine index state
    val buildS = scala.collection.mutable.ArrayBuffer[Double]()
    val (spark, setups) = h.setup { s =>
      val t0 = System.nanoTime()
      val corpus = Tables(s, a.input.toString, "corpus")
      Search.writeBm25Index(corpus, "text", "doc_id", Bm25, buckets = Buckets)
      Search.writePhraseIndex(corpus, "text", "doc_id", Phrase, buckets = Buckets)
      buildS += (System.nanoTime() - t0) / 1e9
    }
    val probe = Bridge.cloneSession(spark)
    probe.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    // warm-up, untimed: one probe of each kind on the serving clone
    h.attempt("warm-up")((bm25Batch(probe, q.bm25.last), phraseBatch(probe, q.phrase.last)))(_ => None)

    var nAppends = 0
    var reads = 0
    // the last batch of each kind, its rows and the appends it saw, for
    // the spot checks after the loop
    var lastBm25: (Seq[String], Array[Row], Int) = (q.bm25.head, Array.empty, -1)
    var lastPhrase: (Seq[(String, Long)], Array[Row], Int) = (q.phrase.head, Array.empty, -1)
    def op(i: Int): Option[Sample] = {
      if (i % AppendEvery == AppendEvery - 1) {
        val b = nAppends
        var delta = Seq.empty[String]
        val r = h.attempt(s"append $b") {
          h.timed(probe, "append") { commit =>
            commit()
            val rows = appends(probe).filter(col("batch") === b).select("doc_id", "text")
            delta = Search.appendToBm25Index(rows, "text", "doc_id", Bm25) ++
              Search.appendToPhraseIndex(rows, "text", "doc_id", Phrase)
          }.copy(files = delta.size)
        } { _ => if (delta.isEmpty) Some(s"append $b: no delta files written") else None }
        nAppends += 1
        r
      } else {
        val n = reads
        reads += 1
        if (n % 2 == 0) {
          val qs = q.bm25(n / 2 % q.bm25.size)
          var rows: Array[Row] = null
          h.attempt(s"bm25 $n") {
            h.timed(probe, "bm25") { _ => rows = bm25Batch(probe, qs) }
          } { _ =>
            lastBm25 = (qs, rows, nAppends)
            val got = if (a.corrupt) rows.map(r => Row(r.get(0), r.get(1), -1.0)) else rows
            val perQuery = got.groupBy(_.getString(0))
            if (perQuery.exists(_._2.length > TopK)) Some(s"bm25 $n: more than $TopK rows for a query")
            else if (got.exists(_.getDouble(2) <= 0)) Some(s"bm25 $n: non-positive score")
            else None
          }
        } else {
          val ps = q.phrase(n / 2 % q.phrase.size)
          var rows: Array[Row] = null
          h.attempt(s"phrase $n") {
            h.timed(probe, "phrase") { _ => rows = phraseBatch(probe, ps) }
          } { _ =>
            lastPhrase = (ps, rows, nAppends)
            // each phrase was cut from an indexed document, which must match
            val got = if (a.corrupt) rows.filterNot(r => r.getString(0) == "p0" &&
              r.getLong(1) == ps.head._2) else rows
            val hits = got.map(r => (r.getString(0), r.getLong(1))).toSet
            val missed = ps.zipWithIndex.collect {
              case ((p, src), i) if !hits((s"p$i", src)) => p
            }
            if (missed.isEmpty) None else Some(s"phrase $n: '${missed.head}' misses its source doc")
          }
        }
      }
    }

    val samples =
      if (!a.trace) h.loop(a.seconds, 2 * AppendEvery)(op)
      else Tracing.untracedThenTraced(h, probe, a.seconds, 2 * AppendEvery, Set("append"))(op)
    val readsS = samples.filter(s => s.kind != "append")
    val appendsS = samples.filter(_.kind == "append")
    h.endToEnd(readsS, appendsS, corpusMb, setups)
    h.detail("corpus_mb") = corpusMb
    h.detail("appends") = nAppends

    // spot checks: the last batch of each kind against the direct scan
    // of the corpus it searched (seed corpus plus the appends before it)
    def corpusAt(appended: Int): DataFrame =
      Tables(spark, a.input.toString, "corpus").select("doc_id", "text")
        .unionByName(appends(spark).filter(col("batch") < appended).select("doc_id", "text"))
    val (bm25Qs, bm25Rows, bm25Seen) = lastBm25
    val spotBm25 = bm25Qs.take(1)
    h.attempt("spot-check bm25") {
      require(bm25Seen >= 0, "no BM25 batch ran")
      spotBm25.map(t => Search.bm25(corpusAt(bm25Seen), "text", "doc_id", t, topK = TopK).collect())
    } { direct =>
      // scores are rounded to 4 decimals after a sub-1e-6 summation-order
      // residue (Search.bm25ProbeBatch), so they may differ by one unit in
      // the last place; a doc may then also swap places with a near-tie
      val tol = 1.5e-4
      val byQuery = bm25Rows.groupBy(_.getString(0)).map { case (k, rs) =>
        k -> rs.map(r => r.getLong(1) -> r.getDouble(2)).toMap }
      spotBm25.indices.flatMap { i =>
        val got0 = byQuery.getOrElse(s"q$i", Map.empty[Long, Double])
        val got = if (a.corrupt) got0.map { case (id, x) => id -> (x + 1) } + (-1L -> 1.0) else got0
        val want = direct(i).map(r => r.getLong(0) -> r.getDouble(1)).toMap
        val kth = if (want.isEmpty) 0.0 else want.values.min
        val bad = (got.keySet ++ want.keySet).find { id =>
          (got.get(id), want.get(id)) match {
            case (Some(x), Some(y)) => math.abs(x - y) > tol
            case (Some(x), None) => math.abs(x - kth) > tol // only a boundary tie may differ
            case (None, _) => math.abs(want(id) - kth) > tol
          }
        }
        if (got.size != want.size)
          Some(s"spot-check bm25 '${spotBm25(i)}': ${got.size} rows != direct ${want.size}")
        else bad.map(id => s"spot-check bm25 '${spotBm25(i)}': doc $id scores " +
          s"${got.get(id)} indexed vs ${want.get(id)} direct")
      }.headOption
    }
    val (spotPhrase, phraseRows, phraseSeen) = lastPhrase
    h.attempt("spot-check phrase") {
      require(phraseSeen >= 0, "no phrase batch ran")
      Search.phraseSearchBatch(corpusAt(phraseSeen), "text", "doc_id",
        phraseFrame(spark, spotPhrase), "query_id", "phrase").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    } { direct =>
      val indexed = phraseRows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val got = if (a.corrupt) indexed.drop(1) else indexed
      if (got == direct) None
      else Some(s"spot-check phrase: indexed ${got.size} rows != direct ${direct.size}")
    }

    if (a.trace) {
      val wh = a.work.resolve("warehouse")
      def files(t: String) = FileUtil.parts(wh.resolve(t))
      h.metric("text.index_build_s", Stats.median(buildS.toSeq), "s")
      h.metric("text.index_files", (files(Bm25) ++ files(Phrase)).size, "count")
      h.metric("text.bm25_p50_ms", Stats.median(samples.filter(_.kind == "bm25").map(_.wallS)) * 1e3, "ms")
      h.metric("text.phrase_p50_ms", Stats.median(samples.filter(_.kind == "phrase").map(_.wallS)) * 1e3, "ms")
      // bytes a read batch scans, and the share of index buckets it skips
      val rec = h.traced.get
      val reads = Seq("bm25", "phrase")
      h.metric("text.bytes_read_per_query",
        Stats.median(reads.flatMap(rec.inputBytesPerOp).map(_.toDouble)), "B")
      val (sel, total) = reads.map(rec.bucketsRead).reduce((x, y) => (x._1 + y._1, x._2 + y._2))
      h.metric("text.pruned_frac", if (total == 0) 0.0 else 1 - sel.toDouble / total, "ratio")
    }
  }
}
