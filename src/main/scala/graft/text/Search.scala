package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyword search over the corpus — BM25 (Robertson/Spärck Jones; the
  * Lucene-default `ln(1 + (N - df + 0.5)/(df + 0.5))` idf form), the
  * retrieval complement of the embedding ANN tiers: a curation engineer
  * asks "which documents talk about X" with no embedding model in sight.
  *
  * Scale shape: scoring is ROW-LOCAL — per query term, tf comes from a
  * `size(filter(tokens))` column expression (the query has a handful of
  * terms; no explode, no term-keyed shuffle, no inverted index to
  * maintain), document length and per-term document frequencies come
  * from ONE partial-aggregated stats pass whose single row broadcasts
  * back, and the top-k is Spark's TakeOrdered. Two scans total at any
  * corpus size.
  *
  * Determinism (the §5 float discipline): all corpus aggregates are
  * integer-valued doubles (exact at any partitioning), the per-document
  * score sums its per-term contributions in a FIXED left-to-right
  * expression tree with each term's contribution rounded to 6 decimals,
  * and the final score rounds to 4 — the DuckDB oracle mirrors the same
  * nesting, so rankings hash-match cross-engine (ln at 4 decimals is the
  * t13 precedent).
  */
object Search {

  /** Exact PHRASE search via positional postings — the retrieval
    * surface BM25's bag-of-words scoring cannot express: "these tokens,
    * ADJACENT, in this order" (quoted-phrase queries, boilerplate
    * sentence lookup, citation matching). Returns (idCol, n_matches)
    * for documents containing the phrase at least once; tokenization is
    * lowercase-exact whitespace (the bm25 convention).
    *
    * Scale shape: ONE corpus scan posts only the phrase's terms as
    * (doc, pos) skeletons; each phrase slot i becomes a posting keyed
    * by (doc, pos − i), so a phrase occurrence is the k-way
    * INTERSECTION of the slots on that composite key — and the joins
    * run RAREST-TERM-FIRST (document frequencies are one tiny aggregate
    * collected up front, the centroid-export precedent), so candidate
    * volume is bounded by the rarest postings list, never the
    * commonest ("the" anchors nothing). Repeated phrase terms work
    * naturally: each slot is its own offset posting.
    */
  def phraseSearch(df: DataFrame, textCol: String, idCol: String,
                   phrase: String): DataFrame = {
    val terms = phraseTerms(phrase)
    val toks = filter(split(lower(col(textCol)), "\\s+"), t => t =!= "")
    // releaseAfterNextUse waits for the probe (the r17 advisory):
    // slotIntersect's dfs collect is itself the first action over this
    // frame — armed before it, the release would free the cache on the
    // collect and every slot branch of the k-way join would re-tokenize
    // the corpus. The collect FILLS the cache; slotIntersect arms after it.
    val posted = org.apache.spark.sql.graftbridge.Bridge.persistedCopy(
      df.select(col(idCol), posexplode(toks).as(Seq("__pos", "__term")))
        .filter(col("__term").isin(terms.distinct: _*)),
      org.apache.spark.storage.StorageLevel.DISK_ONLY)
    slotIntersect(posted.df, idCol, terms, () => posted.releaseAfterNextUse())
  }

  private def phraseTerms(phrase: String): Seq[String] = {
    val terms = phrase.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    require(terms.length >= 2, s"phraseSearch: need >= 2 tokens: '$phrase'")
    terms
  }

  // the single-phrase rarest-first slot intersection over a
  // (idCol, __pos, __term) postings frame — shared by the corpus-scan
  // and index-probe paths
  private def slotIntersect(posted: DataFrame, idCol: String,
                            terms: Seq[String],
                            armRelease: () => Unit = () => ()): DataFrame = {
    // rarest-first join order from one tiny collected aggregate; a
    // persisted caller arms its release AFTER this action (see
    // phraseSearch) so the collect fills the cache instead of consuming it
    val dfs = posted.groupBy("__term")
      .agg(countDistinct(col(idCol)).as("__df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    armRelease()
    val slots = terms.zipWithIndex
      .sortBy { case (t, _) => (dfs.getOrElse(t, 0L), t) }
      .map { case (t, i) =>
        posted.filter(col("__term") === t)
          .select(col(idCol), (col("__pos") - i).as("__start"))
      }
    slots.reduce((a, b) => a.join(b, Seq(idCol, "__start")))
      .filter(col("__start") >= 0)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_matches"))
  }

  /** MANY standing phrases in ONE corpus pass — [[phraseSearch]]'s
    * batched serving shape (the t31 batched-BM25 convention): a
    * retrieval service never serves one phrase at a time, and re-scanning
    * the corpus per phrase multiplies the only linear term.
    *
    * Shape: the batch's distinct terms (collected — bounded by the
    * batch's total token count, the [[bm25ProbeBatch]] contract) prune
    * ONE positional-postings scan, persisted and shared by every
    * downstream step. Instead of per-phrase k-way join chains, the batch
    * runs RAREST-ANCHORED verification: per phrase, the slot whose term
    * has the smallest document frequency (dfs derive DISTRIBUTED from
    * the same pruned postings — a tiny term-keyed aggregate) anchors
    * candidate starts, so candidate volume is Σ_phrase (rarest term's
    * postings) — "the" anchors nothing — and one (doc, pos, term)-keyed
    * join verifies ALL phrases' remaining slots in a single shuffle
    * (per-candidate fan-out = phrase length). A start is a match iff
    * every slot finds its posting. Repeated phrase terms work naturally:
    * each slot probes its own offset.
    *
    * Returns (queryIdCol, idCol, n_matches) for documents containing
    * each phrase at least once; counts are exact integers (no float
    * anywhere). Every phrase needs >= 2 tokens (the [[phraseSearch]]
    * contract); a phrase with a corpus-absent term simply matches
    * nothing.
    */
  def phraseSearchBatch(df: DataFrame, textCol: String, idCol: String,
                        phrases: DataFrame, queryIdCol: String,
                        queryTextCol: String): DataFrame = {
    val (qt, terms) = phraseBatchTerms(phrases, queryIdCol, queryTextCol)
    val toks = filter(split(lower(col(textCol)), "\\s+"), t => t =!= "")
    // doc-partitioned like phraseProbeBatch: one idCol repartition before
    // the (layout-preserving) persist buys every downstream postings-volume
    // exchange (same explicit-N contract)
    val spark = df.sparkSession
    val posted = org.apache.spark.sql.graftbridge.Bridge.persistedCopy(
      df.select(col(idCol), posexplode(toks).as(Seq("__pos", "__term")))
        .filter(col("__term").isin(terms: _*))
        .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt, col(idCol)),
      org.apache.spark.storage.StorageLevel.DISK_ONLY)
    posted.releaseAfterNextUse()
    batchSlotVerify(posted.df, qt, queryIdCol, idCol)
  }

  // the (query, slot, term) frame + distinct term union of a phrase
  // batch — tiny by contract; collected once to validate arity
  private def phraseBatchTerms(phrases: DataFrame, queryIdCol: String,
                               queryTextCol: String): (DataFrame, Seq[String]) = {
    val qt = phrases.select(col(queryIdCol),
      posexplode(filter(split(lower(col(queryTextCol)), "\\s+"),
        t => t =!= "")).as(Seq("__slot", "__qterm")))
    val qtRows = qt.collect()
    require(qtRows.nonEmpty, "phraseSearchBatch: no phrases")
    qtRows.groupBy(_.get(0)).foreach { case (q, rs) =>
      require(rs.length >= 2,
        s"phraseSearchBatch: phrase '$q' needs >= 2 tokens") }
    (qt, qtRows.map(_.getString(2)).distinct.toSeq)
  }

  // the rarest-anchored multi-phrase verification over a shared
  // (idCol, __pos, __term) postings frame — shared by the corpus-scan
  // and index-probe batch paths
  private def batchSlotVerify(posted: DataFrame, qt: DataFrame,
                              queryIdCol: String, idCol: String): DataFrame = {
    // per-term dfs: a term-keyed aggregate over the SAME pruned read;
    // absent terms rank rarest (df 0), anchoring their phrase to an
    // empty postings list — the correct empty result
    val dfs = posted.groupBy(col("__term"))
      .agg(countDistinct(col(idCol)).as("__df"))
    val rankW = Window.partitionBy(col(queryIdCol))
      .orderBy(col("__df").asc_nulls_first, col("__qterm"), col("__slot"))
    val anchors = qt.join(dfs, col("__qterm") === col("__term"), "left")
      .withColumn("__rn", row_number().over(rankW))
      .filter(col("__rn") === 1)
      .select(col(queryIdCol), col("__slot").as("__aslot"),
        col("__qterm").as("__aterm"))
    val cands = posted.join(broadcast(anchors),
        col("__term") === col("__aterm"))
      .select(col(queryIdCol), col(idCol),
        (col("__pos") - col("__aslot")).as("__start"))
      .filter(col("__start") >= 0)
    // one (doc, pos, term)-keyed join verifies every slot of every
    // candidate; a start matches iff all slots found their posting
    val nSlots = qt.groupBy(col(queryIdCol))
      .agg(count(lit(1)).as("__n"))
    val probes = cands.join(broadcast(qt), Seq(queryIdCol))
      .select(col(queryIdCol), col(idCol), col("__start"),
        (col("__start") + col("__slot")).as("__pos"), col("__qterm"))
    probes.join(posted.withColumnRenamed("__term", "__qterm"),
        Seq(idCol, "__pos", "__qterm"))
      .groupBy(col(queryIdCol), col(idCol), col("__start"))
      .agg(count(lit(1)).as("__hit"))
      .join(broadcast(nSlots), Seq(queryIdCol))
      .filter(col("__hit") === col("__n"))
      .groupBy(col(queryIdCol), col(idCol))
      .agg(count(lit(1)).as("n_matches"))
  }

  /** Persisted POSITIONAL index for [[phraseSearch]] — the
    * build-once/serve-many split ([[writeBm25Index]]'s) applied to
    * phrase retrieval: the batch operators re-tokenize the corpus per
    * call, which is the right shape for an audit but not for standing
    * interactive phrase service over a fixed corpus.
    *
    * Layout: `<table>` = (term, idCol, positions ARRAY<INT> sorted) —
    * occurrences collapse to one row per (term, doc) with the position
    * list inline (the Lucene positional-postings shape), BUCKETED on the
    * term so a probe's `term IN (…)` filter bucket-prunes the read
    * (needs autoBucketedScan disabled in probe sessions, the t29
    * caveat). Probes explode only the queried terms' position lists and
    * run the SAME intersection cores as the scan path, so indexed ≡
    * direct row-for-row by construction (the s05/t29 pattern — the
    * direct query's oracle gates the probe).
    */
  def writePhraseIndex(df: DataFrame, textCol: String, idCol: String,
                       table: String, buckets: Int = 32): Unit = {
    val toks = filter(split(lower(col(textCol)), "\\s+"), t => t =!= "")
    val postings = df
      .select(col(idCol), posexplode(toks).as(Seq("pos", "term")))
      .groupBy(col("term"), col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("positions"))
    graft.sources.Warehouse.writeBucketed(
      postings.select(col("term"), col(idCol), col("positions")),
      table, "term", buckets)
  }

  /** Append new documents' postings to a [[writePhraseIndex]] table
    * WITHOUT a rebuild — position lists are per-document, so appended
    * rows never interact with existing ones and a probe after append is
    * row-identical to a full rebuild over the union (spec-pinned; no
    * stats sibling to merge — the probe derives everything from the
    * postings it reads). Caller contract as every index append:
    * `newRows` must be NEW documents; single writer; fragmentation is
    * [[graft.sources.Warehouse.compact]]'s job. Returns the delta files.
    */
  def appendToPhraseIndex(newRows: DataFrame, textCol: String, idCol: String,
                          table: String): Seq[String] = {
    val toks = filter(split(lower(col(textCol)), "\\s+"), t => t =!= "")
    val postings = newRows
      .select(col(idCol), posexplode(toks).as(Seq("pos", "term")))
      .groupBy(col("term"), col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("positions"))
      .select(col("term"), col(idCol), col("positions"))
    graft.sources.Warehouse.appendBucketedWithDelta(postings, table, "term")
  }

  // a (idCol, __pos, __term) postings frame from the index, pruned to
  // the queried terms before the bucket-pruned read explodes positions
  private def indexPostings(spark: org.apache.spark.sql.SparkSession,
                            table: String, idCol: String,
                            terms: Seq[String]): DataFrame =
    spark.table(table).filter(col("term").isin(terms: _*))
      .select(col(idCol), col("term").as("__term"),
        explode(col("positions")).as("__pos"))

  /** One phrase served from a [[writePhraseIndex]] table — row-identical
    * to [[phraseSearch]] over the indexed corpus by construction (same
    * slot-intersection core over the same postings, read bucket-pruned
    * instead of scanned).
    */
  def phraseProbe(spark: org.apache.spark.sql.SparkSession, table: String,
                  idCol: String, phrase: String): DataFrame = {
    val terms = phraseTerms(phrase)
    slotIntersect(indexPostings(spark, table, idCol, terms.distinct),
      idCol, terms)
  }

  /** Many standing phrases served from ONE bucket-pruned index read —
    * [[phraseSearchBatch]]'s verification over [[writePhraseIndex]]
    * postings (row-identical to the scan path by construction).
    */
  def phraseProbeBatch(spark: org.apache.spark.sql.SparkSession,
                       table: String, idCol: String, phrases: DataFrame,
                       queryIdCol: String, queryTextCol: String): DataFrame = {
    val (qt, terms) = phraseBatchTerms(phrases, queryIdCol, queryTextCol)
    // DOC-partitioned postings (round 19, guide §2.4): hash the pruned
    // read by idCol ONCE before the persist, which then PRESERVES that
    // layout. Every postings-volume step of batchSlotVerify clusters on
    // a key set containing idCol (the slot-verify join on (id, pos,
    // term), both aggregations), and HashPartitioning(id) satisfies each
    // of those distributions — so the single repartition replaces the
    // verify join's two exchanges and the candidate aggregation's
    // exchange. Explicit partition count (the preserved-partitioning
    // contract: AQE never re-coalesces a user-pinned N), conf-driven via
    // the session's shuffle parallelism, so the layout stays
    // cluster-configured rather than local-tuned.
    val posted = org.apache.spark.sql.graftbridge.Bridge.persistedCopy(
      indexPostings(spark, table, idCol, terms)
        .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt, col(idCol)),
      org.apache.spark.storage.StorageLevel.DISK_ONLY)
    posted.releaseAfterNextUse()
    batchSlotVerify(posted.df, qt, queryIdCol, idCol)
  }

  /** Top-`topK` documents for a whitespace query, scored by BM25.
    * Returns (idCol, score) ordered by (score desc, id); zero-score and
    * null-text documents are excluded. Matching is lowercase-exact on
    * whitespace tokens (the span-cut convention).
    */
  def bm25(df: DataFrame, textCol: String, idCol: String, query: String,
           topK: Int = 20, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val terms = query.toLowerCase.split("\\s+").filter(_.nonEmpty)
      .distinct.toSeq
    require(terms.nonEmpty, "bm25: empty query")
    require(topK > 0, s"bm25: topK=$topK")
    val toks = filter(split(lower(col(textCol)), "\\s+"), t => t =!= "")
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      size(filter(col("__toks"), x => x === lit(t))).cast("double")
        .as(s"__tf$i")
    }
    val withTf = df
      .select(col(idCol), toks.as("__toks"),
        size(toks).cast("double").as("__dl"))
      .select(col(idCol) +: col("__dl") +: tfCols: _*)
    val statsCols =
      avg(col("__dl")).as("__avgdl") +:
        terms.indices.map(i =>
          sum(when(col(s"__tf$i") > 0, 1).otherwise(0)).cast("double")
            .as(s"__df$i"))
    val stats = withTf.agg(
      count(lit(1)).cast("double").as("__n"), statsCols: _*)
    val perTerm: Seq[Column] = terms.indices.map { i =>
      val idf = log(lit(1.0) +
        (col("__n") - col(s"__df$i") + lit(0.5)) / (col(s"__df$i") + lit(0.5)))
      round(idf * col(s"__tf$i") * lit(k1 + 1.0) /
        (col(s"__tf$i") +
          lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("__dl") / col("__avgdl"))),
        6)
    }
    withTf.crossJoin(broadcast(stats))
      .withColumn("score", round(perTerm.reduce(_ + _), 4))
      .filter(col("score") > 0)
      .select(col(idCol), col("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(topK)
  }

  /** Persisted INVERTED INDEX for [[bm25]] — the build-once/serve-many
    * split the ANN tiers make (writeLshIndex/writeIvfIndex), applied to
    * keyword retrieval: [[bm25]] is the right shape for a batch audit
    * (two corpus scans, no state), but interactive repeated querying
    * over a fixed corpus should not re-scan the documents per query.
    *
    * Layout: `<table>` = postings (term, idCol, tf, dl) BUCKETED on the
    * term — a probe's `term IN (…)` filter bucket-prunes the read
    * (SelectedBucketsCount ≪ buckets; needs autoBucketedScan disabled in
    * probe sessions, the LSH-probe caveat) — plus a one-row
    * `<table>_stats` sibling (doc count N, avgdl). Document length rides
    * every posting row (denormalized) so scoring never joins a doc-keyed
    * table. Corpus aggregates are integer-valued doubles, so the stats
    * are partitioning-exact and the probe reproduces [[bm25]]'s
    * arithmetic bit-for-bit (spec-pinned row-equal).
    *
    * Build: one tokenize scan; occurrences collapse map-side to
    * (term, id, tf) — a stopword's postings spread over the id space in
    * the collapse, and the bucketed write lays them out by term.
    *
    * GROWS by [[appendToBm25Index]]: per-term document frequencies are
    * never stored — the probe derives them from the (pruned) postings
    * rows it reads — so the only corpus-global state is (N, Σdl), which
    * merges exactly (both are integers in doubles; the stats row keeps
    * `sum_dl` precisely so the merged `avgdl = Σdl/N` is BIT-identical
    * to a fresh build's `avg()`, which computes the same division).
    */
  def writeBm25Index(df: DataFrame, textCol: String, idCol: String,
                     table: String, buckets: Int = 32): Unit = {
    val spark = df.sparkSession
    val toks = filter(split(lower(col(textCol)), "\\s+"), t => t =!= "")
    val base = df.select(col(idCol), toks.as("__toks"),
      size(toks).cast("double").as("__dl"))
    val postings = base
      .select(col(idCol), col("__dl").as("dl"), explode(col("__toks")).as("term"))
      .groupBy(col("term"), col(idCol))
      .agg(count(lit(1)).cast("double").as("tf"), first(col("dl")).as("dl"))
    graft.sources.Warehouse.writeBucketed(
      postings.select(col("term"), col(idCol), col("tf"), col("dl")),
      table, "term", buckets)
    val st = base.agg(count(lit(1)).cast("double").as("n"),
      sum(col("__dl")).as("sum_dl"),
      count(col("__dl")).cast("double").as("n_dl")).head()
    writeStats(spark, table, st.getDouble(0),
      if (st.isNullAt(1)) 0.0 else st.getDouble(1), st.getDouble(2))
  }

  // stats sibling: (n, avgdl, sum_dl, n_dl). `n` counts every document
  // (null text included — bm25's N semantics); avgdl = sum_dl / n_dl
  // divides by the NON-null count, exactly as avg() does over the same
  // exact integer-valued sum, so build and append agree bit-for-bit.
  // Single writer; a crash between drop and save leaves no stats table
  // and the probe fails loudly.
  private def writeStats(spark: org.apache.spark.sql.SparkSession,
                         table: String, n: Double, sumDl: Double,
                         nDl: Double): Unit = {
    import spark.implicits._
    graft.sources.Warehouse.dropTableAndLocation(spark, s"${table}_stats")
    Seq((n, if (nDl > 0) sumDl / nDl else 0.0, sumDl, nDl))
      .toDF("n", "avgdl", "sum_dl", "n_dl")
      .write.mode("overwrite").saveAsTable(s"${table}_stats")
  }

  /** Append new documents to a [[writeBm25Index]] table WITHOUT a
    * rebuild — the grow-don't-retrain contract extended to keyword
    * retrieval: one tokenize pass over the new rows, postings appended
    * under the catalog's bucket spec (the L30 delta idiom), and the
    * corpus stats MERGED exactly — `N` adds, `Σdl` adds (both integer
    * exact), and the derived `avgdl` is the same division a fresh
    * build computes, so a probe after append row-equals a full rebuild
    * over the union (spec-pinned). Per-term dfs need no maintenance at
    * all: the probe counts them from the postings it reads.
    *
    * Caller contract (shared with every index append): `newRows` must
    * be new documents — re-appending an indexed id duplicates its
    * postings and inflates df/tf for its terms. Single writer at a
    * time; file fragmentation is [[graft.sources.Warehouse.compact]]'s
    * job (`maxFilesPerBucket` is the signal). Returns the postings
    * append's delta files.
    */
  def appendToBm25Index(newRows: DataFrame, textCol: String, idCol: String,
                        table: String): Seq[String] = {
    val spark = newRows.sparkSession
    val prev = spark.table(s"${table}_stats").head()
    val (nOld, sumOld, nDlOld) =
      (prev.getDouble(0), prev.getDouble(2), prev.getDouble(3))
    val toks = filter(split(lower(col(textCol)), "\\s+"), t => t =!= "")
    val base = newRows.select(col(idCol), toks.as("__toks"),
      size(toks).cast("double").as("__dl"))
    val postings = base
      .select(col(idCol), col("__dl").as("dl"), explode(col("__toks")).as("term"))
      .groupBy(col("term"), col(idCol))
      .agg(count(lit(1)).cast("double").as("tf"), first(col("dl")).as("dl"))
      .select(col("term"), col(idCol), col("tf"), col("dl"))
    val delta = graft.sources.Warehouse.appendBucketedWithDelta(
      postings, table, "term")
    val st = base.agg(count(lit(1)).cast("double").as("n"),
      sum(col("__dl")).as("sum_dl"),
      count(col("__dl")).cast("double").as("n_dl")).head()
    writeStats(spark, table, nOld + st.getDouble(0),
      sumOld + (if (st.isNullAt(1)) 0.0 else st.getDouble(1)),
      nDlOld + st.getDouble(2))
    delta
  }

  /** MANY queries served from one [[writeBm25Index]] read — the batched
    * serving shape the ANN tiers established (`ivfProbePartitionedBatch`):
    * a retrieval-audit job with hundreds of standing queries should not
    * pay one bucket-pruned scan per query.
    *
    * Shape: the batch's distinct terms prune the postings read ONCE (the
    * union of every query's term buckets; terms are collected — bounded
    * by the batch's total token count, the [[bm25Probe]] contract), the
    * per-term dfs derive DISTRIBUTED from that same pruned read and join
    * back (no driver round-trip — the bm25Probe advisory's scale path),
    * the tiny (query, term) frame broadcast-joins the postings, and the
    * per-query top-k rides the salted two-phase top-N (a stopword query
    * matching most of the corpus ranks in lanes, never one task).
    *
    * Determinism without a fixed expression tree: the single-probe path
    * sums per-term contributions left-to-right in one projection, which
    * a join-shaped batch cannot replicate (aggregation order is
    * partition-dependent). Instead each term contribution is rounded to
    * 6 decimals and SCALED TO AN EXACT LONG (×10⁶ — the g01 scaled-
    * integer discipline): long sums are order-free, so the score is
    * bit-stable at any partitioning and the DuckDB oracle replays it
    * exactly. Scores can differ from [[bm25Probe]]'s only in the final
    * sub-1e-6 associativity residue (spec bounds the gap).
    *
    * Returns (queryIdCol, idCol, score), per-query (score desc, id)
    * top-`topK`, zero-score rows excluded.
    */
  def bm25ProbeBatch(spark: org.apache.spark.sql.SparkSession, table: String,
                     idCol: String, queries: DataFrame, queryIdCol: String,
                     queryTextCol: String, topK: Int = 20,
                     k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(topK > 0, s"bm25ProbeBatch: topK=$topK")
    val st = spark.table(s"${table}_stats").head()
    val (n, avgdl) = (st.getDouble(0), st.getDouble(1))
    val qt = queries.select(col(queryIdCol),
        explode(array_distinct(filter(
          split(lower(col(queryTextCol)), "\\s+"), t => t =!= ""))).as("term"))
    val terms = qt.select("term").distinct().collect().map(_.getString(0))
    require(terms.nonEmpty, "bm25ProbeBatch: no query terms")
    // DOC-partitioned postings (round 19, guide §2.3/§2.4): the bucketed
    // read arrives term-partitioned, but every postings-volume consumer
    // downstream clusters on a key set containing idCol — so one idCol
    // repartition up front makes the (query, doc) score aggregation
    // exchange-free (HashPartitioning(id) satisfies its distribution),
    // replacing the exchange that previously moved every contribution
    // row. The per-term dfs join becomes an explicit broadcast (≤ one
    // row per distinct batch term — tiny by the collected-terms
    // contract), which also drops the sort-merge sorts the term-keyed
    // join paid over the full postings.
    val pruned = spark.table(table).filter(col("term").isin(terms.toSeq: _*))
    val matched = pruned.repartition(col(idCol))
    // dfs from the RAW bucket-pruned scan: the partial aggregate
    // collapses map-side to one row per (partition, term), so the tiny
    // broadcast build never waits on (or re-runs) the repartition
    val dfs = pruned.groupBy("term")
      .agg(count(lit(1)).cast("double").as("df"))
    val idf = log(lit(1.0) + (lit(n) - col("df") + lit(0.5)) /
      (col("df") + lit(0.5)))
    val contrib = matched.join(broadcast(dfs), "term")
      .join(broadcast(qt), Seq("term"))
      .withColumn("__c", round(idf * col("tf") * lit(k1 + 1.0) /
        (col("tf") +
          lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / lit(avgdl))),
        6))
      .withColumn("__ci", round(col("__c") * lit(1e6)).cast("long"))
    val scored = contrib.groupBy(col(queryIdCol), col(idCol))
      .agg(round(sum(col("__ci")).cast("double") / lit(1e6), 4).as("score"))
      .filter(col("score") > 0)
    graft.operators.Skew.saltedTopN(scored, Seq(col(queryIdCol)), col(idCol),
      Seq(col("score").desc, col(idCol)), topK)
  }

  /** Top-`topK` documents for a whitespace query served from a
    * [[writeBm25Index]] table — row-identical to [[bm25]] over the
    * indexed corpus by construction: N/avgdl/df are the same
    * partitioning-exact integers-in-doubles, and the score is the same
    * fixed left-to-right contribution tree over the same rounded terms
    * (df/N/avgdl enter as literals; identical doubles → identical
    * arithmetic). The read is the query's term buckets only — never the
    * corpus, never the full postings table; a candidate set is exactly
    * the docs containing ≥1 query term, which is exactly [[bm25]]'s
    * surviving (score > 0) set.
    */
  def bm25Probe(spark: org.apache.spark.sql.SparkSession, table: String,
                idCol: String, query: String,
                topK: Int = 20, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val terms = query.toLowerCase.split("\\s+").filter(_.nonEmpty)
      .distinct.toSeq
    require(terms.nonEmpty, "bm25Probe: empty query")
    require(topK > 0, s"bm25Probe: topK=$topK")
    val st = spark.table(s"${table}_stats").head()
    val (n, avgdl) = (st.getDouble(0), st.getDouble(1))
    val matched = spark.table(table).filter(col("term").isin(terms: _*))
    // per-term document frequencies: one tiny aggregation over the
    // SAME bucket-pruned read (≤ |terms| rows collected)
    val dfs = matched.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("df"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      coalesce(max(when(col("term") === t, col("tf"))), lit(0.0)).as(s"__tf$i")
    }
    val perDoc = matched.groupBy(col(idCol))
      .agg(first(col("dl")).as("__dl"), tfCols: _*)
    val perTerm: Seq[Column] = terms.zipWithIndex.map { case (t, i) =>
      val dfT = lit(dfs.getOrElse(t, 0.0))
      val idf = log(lit(1.0) + (lit(n) - dfT + lit(0.5)) / (dfT + lit(0.5)))
      round(idf * col(s"__tf$i") * lit(k1 + 1.0) /
        (col(s"__tf$i") +
          lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("__dl") / lit(avgdl))),
        6)
    }
    perDoc
      .withColumn("score", round(perTerm.reduce(_ + _), 4))
      .filter(col("score") > 0)
      .select(col(idCol), col("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(topK)
  }

  /** STREAMING BM25 serving — a standing retrieval service over the
    * persisted index: a stream of (queryId, queryText) rows answers from
    * a [[writeBm25Index]] table via `foreachBatch` → [[bm25ProbeBatch]],
    * so each micro-batch pays ONE bucket-pruned postings read for all its
    * queries (the honest scale shape — a stream-static join on the
    * postings would rescan the whole table per batch and could never
    * bucket-prune on stream values). Results go to `sink` per batch;
    * empty batches are skipped. Stop the returned query to stop serving.
    */
  def bm25ServeStream(queries: DataFrame, queryIdCol: String,
                      queryTextCol: String, table: String, idCol: String,
                      topK: Int)(sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          sink(bm25ProbeBatch(batch.sparkSession, table, idCol, batch,
            queryIdCol, queryTextCol, topK))
      }
      .start()

  /** HYBRID retrieval: reciprocal-rank fusion (Cormack/Clarke/Büttcher
    * 2009) of per-query ranked lists from heterogeneous scorers — the
    * standard way to combine keyword ([[bm25Probe]]/[[bm25ProbeBatch]])
    * and embedding ([[graft.similarity.Similarity]] kNN) retrieval
    * without calibrating their incomparable score scales: each list
    * contributes `1/(kRrf + rank)` per document and the fused score is
    * the sum, so only RANKS matter.
    *
    * Inputs: each list has (queryIdCol, idCol, scoreCol) — any number of
    * lists, any score scale; single-query scorers join the batch shape
    * with a `lit` query column. Ranks are derived here (dense per-query
    * `row_number` over (score desc, id) — a TOTAL order, so ranks are
    * deterministic) rather than trusted from the caller.
    *
    * Scale shape: inputs are per-query TOP-K lists (that is the
    * contract — fusing unbounded lists is a scorer bug, not a fusion
    * feature), so every per-query group is ≤ Σ topKᵢ rows and the rank
    * windows and final top-k are skew-free by construction; the only
    * shuffle is the (query, id) fusion group-by of those bounded lists.
    *
    * Determinism (the §5 float discipline): `1/(kRrf + rank)` is scaled
    * to an exact long (×10¹²) per contribution, so the fused sum is
    * order-free and bit-stable at any partitioning; the final score is
    * the long sum /10¹² rounded to 8 — a DuckDB oracle replays it
    * exactly. Returns (queryIdCol, idCol, rrf_score), per-query
    * (rrf_score desc, id) top-`topK`.
    */
  def rrfFuse(lists: Seq[DataFrame], queryIdCol: String, idCol: String,
              scoreCol: String, topK: Int = 20, kRrf: Int = 60): DataFrame = {
    require(lists.nonEmpty, "rrfFuse: no lists")
    require(topK > 0 && kRrf > 0, s"rrfFuse: topK=$topK kRrf=$kRrf")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(queryIdCol))
      .orderBy(col(scoreCol).desc, col(idCol))
    val contribs = lists.map { l =>
      l.select(col(queryIdCol), col(idCol), col(scoreCol))
        .withColumn("__rank", row_number().over(w))
        .select(col(queryIdCol), col(idCol),
          round(lit(1e12) / (lit(kRrf.toDouble) + col("__rank")))
            .cast("long").as("__ci"))
    }
    val fused = contribs.reduce(_ unionByName _)
      .groupBy(col(queryIdCol), col(idCol))
      .agg(round(sum(col("__ci")).cast("double") / lit(1e12), 8)
        .as("rrf_score"))
    graft.operators.Skew.saltedTopN(fused, Seq(col(queryIdCol)), col(idCol),
      Seq(col("rrf_score").desc, col(idCol)), topK)
  }
}
