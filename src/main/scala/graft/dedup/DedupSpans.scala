package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Span/line/substring seam of [[Dedup]] — the corpus-first-winner family
  * (d08/d18/d19/d20/d21, the line registry, boilerplate-span discovery) and
  * its shared salted markCorpusFirst discipline. Split from the single
  * Dedup.scala (round 15); no public-API change.
  */
private[graft] trait DedupSpans { this: Dedup.type =>

  /** Corpus-first-WINNER marking shared by the span/line/window dedup
    * tiers (d08/d18/d19): given one row per (document, distinct key)
    * carrying the document's first position in `pos`, mark each row with
    * whether it is the corpus-first occurrence of its key — the
    * lexicographic minimum (id, pos).
    *
    * Scale shape (replacing the former
    * `min(struct(id, pos)).over(Window.partitionBy(key))`): a corpus-hot
    * key — "Privacy Policy"-class boilerplate contained in nearly EVERY
    * document — would route its one-row-per-containing-doc set (~corpus
    * cardinality) through ONE window-sort task, the classic skew
    * straggler at 10^10 documents. Instead: (1) the skeleton is persisted
    * once (DISK_ONLY, lineage kept — `Bridge.persistedCopy`, the pipeline
    * Materialize precedent) because it now feeds two consumers, so the
    * dominant explode+collapse stage still runs exactly once; (2) winners
    * derive from `groupBy(key).agg(min(struct(id, pos)))`, whose PARTIAL
    * phase combines map-side — the key-hashed exchange carries at most
    * one candidate per key per map partition regardless of skew, the
    * exact e-phase discipline of [[graft.operators.Skew.saltedTopN]]
    * applied to an associative min; (3) the winner joins back on the
    * COMPOSITE (key, id, pos) — a hot key's rows carry distinct ids, so
    * the join's hash partitioning spreads them uniformly. No partition
    * anywhere scales with a key's document count (LineDedupBench, since
    * deleted, measured the per-task bound with a line planted in every
    * document; an OperatorSpec hot-line test now pins it). Join
    * keys are null-SAFE (`<=>`) so d18's per-occurrence blank-line key
    * (null on content lines) matches itself.
    *
    * Returns the skeleton's rows plus a boolean `markCol`; the persisted
    * blocks are freed as soon as the first query consuming the result
    * completes (the `Bridge.persistedCopy` handle's `releaseAfterNextUse`
    * — a repeated-batch driver accumulates no disk blocks between GCs; a
    * caller re-running an action on the same result recomputes the
    * skeleton, correctly).
    */
  private def markCorpusFirst(perDoc: DataFrame, keyCols: Seq[String],
                              idCol: String, markCol: String,
                              extraAgg: Seq[(String, Column)] = Nil): DataFrame = {
    val persisted = org.apache.spark.sql.graftbridge.Bridge.persistedCopy(
      perDoc, org.apache.spark.storage.StorageLevel.DISK_ONLY)
    persisted.releaseAfterNextUse()
    val pd = persisted.df
    // optional extra PER-KEY aggregates (e.g. total occurrence count for
    // the repeat-mining tier) ride the same partial-agg exchange and reach
    // only the WINNER row through the composite join-back — no second
    // key-only join that would re-concentrate a hot key's rows
    val winners = pd.groupBy(keyCols.map(col): _*)
      .agg(min(struct(col(idCol), col("pos"))).as("__w"),
        extraAgg.map { case (n, c) => c.as(n) }: _*)
      .select(keyCols.zipWithIndex.map { case (k, i) => col(k).as(s"__k$i") } ++
        Seq(col(s"__w.$idCol").as("__wid"), col("__w.pos").as("__wpos"),
          lit(true).as(markCol)) ++ extraAgg.map { case (n, _) => col(n) }: _*)
    val cond = keyCols.zipWithIndex
      .map { case (k, i) => pd(k) <=> winners(s"__k$i") }
      .reduce(_ && _) &&
      pd(idCol) === winners("__wid") && pd("pos") === winners("__wpos")
    pd.join(winners, cond, "left")
      .select(pd.columns.toIndexedSeq.map(pd(_)) ++
        Seq(coalesce(winners(markCol), lit(false)).as(markCol)) ++
        extraAgg.map { case (n, _) => winners(n).as(n) }: _*)
  }

  /** Span-level exact dedup (the C4/RefinedWeb-style pass): each document
    * is cut into consecutive `spanTokens`-token spans, every span occurrence
    * except the corpus-FIRST one (minimum (id, position)) is removed, and
    * surviving spans are reassembled in order. Documents whose every span
    * was seen earlier disappear entirely. This is the complement of
    * document-level dedup: it removes repeated boilerplate EMBEDDED in
    * otherwise-distinct documents (headers, license blocks, navigation
    * text), which neither exact nor near document dedup can touch.
    *
    * Returns one row per surviving document: (idCol, n_spans, n_kept,
    * dedup_text). Reassembly joins spans with single spaces, so documents
    * with irregular whitespace come back whitespace-normalized — the same
    * canonicalization every downstream tokenizer applies anyway.
    *
    * Shuffle shape at scale: span TEXT never shuffles more than once per
    * (document, distinct span), and the corpus is scanned ONCE. Occurrences
    * first collapse map-side to (id, span, min pos) — the (id, span) key is
    * not skewed. The corpus-first winner per distinct span comes from
    * [[markCorpusFirst]]: the collapsed skeleton is persisted once (so the
    * dominant explode+collapse stage never re-runs — the double-branch
    * trap the LSH bucket sizing hit), winners are a partial-aggregated
    * `min(struct(id, pos))` groupBy whose exchange carries at most one
    * candidate per span per map partition, and the verdict joins back on
    * the composite (span, id, pos) — so a boilerplate span contained in
    * EVERY document never concentrates in one task (the former
    * span-partitioned window sorted its whole containing-doc set in one);
    * reassembly groups by id (unskewed).
    */
  def dedupSpans(df: DataFrame, textCol: String, idCol: String,
                 spanTokens: Int = 3): DataFrame = {
    // tokenize ONCE into a materialized column: referencing split(text)
    // directly from the span lambda would inline the tokenization into
    // every span's slice — O(spans × text) per document, measured ~5× the
    // whole stage on the bench corpus (CollapseProject keeps a non-cheap
    // multi-referenced alias as its own projection, so this split survives
    // as a single evaluation). Edge empty tokens are filtered: a leading-
    // whitespace document would otherwise cut a " a b" first span that
    // fails to match its unindented twin's "a b" — unlike the hashed-gram
    // operators (where the convention is shared with their oracles), span
    // text is compared ACROSS documents, so indentation must not leak in.
    val tokenized = df.select(col(idCol),
      filter(split(col(textCol), "\\s+"), t => t =!= "").as("__toks"))
    val nSpans = ceil(size(col("__toks")) / lit(spanTokens.toDouble)).cast("long")
    // guard the zero-token (empty/whitespace-only) document: Spark's
    // sequence(0, -1) would DESCEND, emitting two phantom spans
    val spans = tokenized.select(col(idCol), nSpans.as("n_spans"),
        posexplode(when(nSpans >= 1,
          transform(sequence(lit(0), (nSpans - 1).cast("int")),
            i => concat_ws(" ", slice(col("__toks"), i * spanTokens + 1, lit(spanTokens)))))
          .otherwise(array()))
          .as(Seq("pos", "span")))
    // collapse within-doc repeats map-side; keep each doc's first occurrence
    val perDoc = spans.groupBy(col(idCol), col("n_spans"), col("span"))
      .agg(min(col("pos")).as("pos"))
    // corpus-first occurrence per distinct span: salted two-phase min +
    // composite-key join-back (see markCorpusFirst — a window over the
    // span key would sort a hot span's whole containing-doc set in one task)
    markCorpusFirst(perDoc, Seq("span"), idCol, "__isw")
      .filter(col("__isw"))
      .groupBy(col(idCol), col("n_spans"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("span")))),
          x => x.getField("span")), " ").as("dedup_text"))
  }

  /** Corpus-wide exact LINE dedup (the RefinedWeb-style cleanup between
    * [[graft.text.TextOps.dropRepeatedLines]]' within-document pass and
    * [[dedupSpans]]' fixed-token spans): every non-blank line keeps only
    * its corpus-FIRST occurrence (minimum (id, position)) — the nav
    * menus, cookie banners and license blocks a crawl stamps across many
    * pages disappear from all but the earliest page, while line
    * boundaries (the natural unit HTML extraction emits) are respected
    * instead of a token grid. Blank lines are STRUCTURE, not content:
    * preserved per (document, position), never competing — a billion
    * pages' blank lines must not collapse into one document. Documents
    * whose every non-blank line was seen earlier (pure boilerplate
    * replays) disappear; null-text documents vanish like dedupSpans'.
    *
    * Returns (idCol, n_kept, dedup_text) — kept non-blank line count and
    * the reassembled text.
    *
    * Shuffle shape at scale (the L25 discipline): ONE corpus scan; line
    * occurrences collapse map-side to (id, distinct line, min pos) on
    * the unskewed (id, line) key, so a boilerplate line shared by every
    * document contributes ONE row per containing document downstream,
    * never one per occurrence; blank lines carry singleton keys (the key
    * gains their (id, pos), so no corpus-wide ""-group ever forms); the
    * verdict is [[markCorpusFirst]]'s salted two-phase min + composite
    * join-back — no partition scales with a line's document count;
    * reassembly groups by the unskewed id.
    */
  def dedupLinesGlobal(df: DataFrame, textCol: String,
                       idCol: String): DataFrame =
    reassembleLines(lineWinners(df, textCol, idCol), idCol)

  /** Shared line-cut + corpus-first-winner stage of the line-dedup tiers:
    * per-(doc, distinct non-blank line) skeleton rows (blanks carry a
    * per-occurrence key: no within-doc collapse, a singleton group,
    * auto-win), marked by [[markCorpusFirst]] and filtered to winners —
    * one row per kept line occurrence: (idCol, line, __bk, pos).
    */
  private def lineWinners(df: DataFrame, textCol: String,
                          idCol: String): DataFrame = {
    val exploded = df.select(col(idCol),
      posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    val isBlank = trim(col("line")) === ""
    val perDoc = exploded
      .withColumn("__bk",
        when(isBlank, struct(col(idCol), col("pos"))).otherwise(lit(null)))
      .groupBy(col(idCol), col("line"), col("__bk"))
      .agg(min(col("pos")).as("pos"))
    // corpus-first winner per (line, blank-key): salted two-phase min +
    // composite join-back (markCorpusFirst) — a line-partitioned window
    // would sort a universal boilerplate line's whole doc set in one task;
    // the null-safe key lets blank rows' singleton (id, pos) keys and the
    // content rows' null __bk both match themselves through the join
    markCorpusFirst(perDoc, Seq("line", "__bk"), idCol, "__isw")
      .filter(col("__isw"))
  }

  /** Reassemble per-document text from kept line rows; documents with no
    * surviving non-blank line vanish. */
  private def reassembleLines(kept: DataFrame, idCol: String): DataFrame =
    kept.groupBy(col(idCol))
      .agg(
        count(when(trim(col("line")) =!= "", 1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("line")))),
          x => x.getField("line")), "\n").as("dedup_text"))
      .filter(col("n_kept") >= 1)

  /** Create an empty LINE-hash registry table for
    * [[dedupLinesAgainstRegistry]] — one `line_hash` column (md5 hex of
    * the line text), bucketed by it so every later anti-join and append
    * co-locates without shuffling the ever-growing registry side.
    */
  def createLineRegistry(spark: org.apache.spark.sql.SparkSession,
                         table: String, buckets: Int = 32): Unit = {
    import spark.implicits._
    graft.sources.Warehouse.writeBucketed(
      Seq.empty[String].toDF("line_hash"), table, "line_hash", buckets)
  }

  /** Incremental cross-RUN line dedup — the LINE-identity member of the
    * cross-run family, next to the exact-document registry
    * ([[dedupAgainstRegistry]]), the MinHash band index
    * ([[nearDedupAgainstIndex]]), the hamming index, and the semantic IVF
    * probe: a nav menu / cookie banner / license block ingested in an
    * EARLIER run must still strip from today's pages, which the within-run
    * pass ([[dedupLinesGlobal]]) structurally cannot see. Semantics:
    * within-batch corpus-first line dedup first (min (id, pos) wins,
    * blanks preserved per (doc, position) as structure), then every kept
    * non-blank line whose hash is already registered drops from every
    * document (the prior run kept its first occurrence); documents left
    * with no content line vanish. Unless `update = false`, surviving kept
    * lines' hashes append so the NEXT run sees them — lines that only
    * LOST their batch-first election do not register (their winner did).
    *
    * Scale shape: the [[dedupLinesGlobal]] discipline verbatim (map-side
    * (id, line) collapse, salted corpus-first winners, unskewed
    * reassembly), plus ONE anti-join of the batch's winner skeletons
    * against a registry BUCKETED on the line hash — the ever-growing
    * registry is never shuffled, only the day's (bounded) winner set is,
    * and the exchange carries 32-char hashes, never line text.
    *
    * Failure contract ([[dedupAgainstRegistry]]'s verbatim): with
    * `update = true` the anti-join executes exactly once, inside the
    * append job; the returned frame derives the kept content lines from
    * the append's own delta files (a fixed path list), so recomputation
    * after executor loss — or a late re-read after later batches grew the
    * registry — can never lose rows. Single writer per registry table.
    *
    * Returns (idCol, n_kept, dedup_text) — [[dedupLinesGlobal]]'s shape.
    */
  def dedupLinesAgainstRegistry(batch: DataFrame, textCol: String,
                                idCol: String, registryTable: String,
                                update: Boolean = true): DataFrame = {
    val spark = batch.sparkSession
    val winners = lineWinners(batch, textCol, idCol)
    val blanks = winners.filter(col("__bk").isNotNull)
    val content = winners.filter(col("__bk").isNull)
      .withColumn("line_hash", md5(col("line").cast("binary")))
    val keptContent =
      if (!update)
        content.join(spark.table(registryTable), Seq("line_hash"), "left_anti")
          .drop("line_hash")
      else {
        val fresh = content.join(spark.table(registryTable),
          Seq("line_hash"), "left_anti")
        val delta = graft.sources.Warehouse.appendBucketedWithDelta(
          fresh.select(col("line_hash")), registryTable, "line_hash")
        if (delta.isEmpty) content.filter(lit(false)).drop("line_hash")
        else content.join(spark.read.parquet(delta: _*),
          Seq("line_hash"), "left_semi").drop("line_hash")
      }
    reassembleLines(keptContent.unionByName(blanks), idCol)
  }

  /** Exact SUBSTRING dedup — the Lee-et-al.-2021 ("Deduplicating Training
    * Data Makes Language Models Better") tier, approximated on fixed
    * `windowTokens`-token anchors instead of a suffix array: every
    * occurrence of an L-token window except the corpus-FIRST (min
    * (id, pos), including a document's own later repeats) has its covered
    * token range removed, and documents reassemble from surviving tokens.
    * Because windows slide at stride 1, a shared substring is caught at
    * ANY alignment — the shifted repeats [[dedupSpans]]' non-overlapping
    * grid structurally misses (its spans only match when the repeat lands
    * on the same k-token boundary). The relationship to the published
    * suffix-array construction, stated precisely: two positions share an
    * L-token window iff their suffixes share an L-token prefix — the
    * predicate a suffix array's LCP computation answers — and inside a
    * maximal repeat of m ≥ L tokens every one of its m−L+1 windows
    * matches cross-occurrence, so the covered union of a non-first
    * occurrence is EXACTLY its m repeat tokens (spec-pinned on a
    * 13-token repeat at three alignments). The window groupBy therefore
    * computes the same ≥-L-repeat removal in ONE shuffle where prefix
    * doubling pays O(log L) global sorts; what the suffix array would
    * add is sub-threshold LCP statistics this operator does not need.
    * The honest residual deltas: repeats shorter than L are invisible
    * (the threshold semantics both methods share), and the corpus-first
    * winner is elected per WINDOW, so when distinct documents each
    * contain different earliest windows of one repeat, the removal
    * mosaic can differ from a per-repeat election. Pure replays
    * disappear; sub-L and null-text documents pass through / vanish like
    * dedupSpans'.
    *
    * Returns (idCol, n_tokens, n_kept, dedup_text).
    *
    * Shuffle shape at scale: occurrences collapse map-side to one row per
    * (document, distinct window) carrying the position LIST (within-doc
    * repeats are rare and bounded by doc length), so a corpus-hot
    * boilerplate window contributes ONE row per containing document
    * downstream — the L25 discipline; the removal verdict is
    * [[markCorpusFirst]]'s salted two-phase min + composite join-back
    * (no partition scales with a window's document count); coverage
    * marking is row-local (`exists` over the doc's removed-start list);
    * reassembly re-reads the corpus once (2 parquet scans total, the d16
    * shape — verdict rows carry no payload back). Window STRINGS ride
    * the exchange at local/test scale
    * (the d08 convention: cross-engine comparability over a 64-bit
    * hash's collision risk); `engine` (see [[resolveRankEngine]] —
    * default `"auto"`) switches huge inputs to the prefix-doubling rank
    * keys whose exchange never carries text; `hashWindows = true` is the
    * caller-forced escape hatch — the exchange key becomes
    * `xxhash64(window)` (~6× fewer shuffled bytes at 8-token windows),
    * results identical barring a 64-bit collision (spec-pinned equal on
    * a planted corpus).
    */
  def dedupSubstrings(df: DataFrame, textCol: String, idCol: String,
                      windowTokens: Int = 8,
                      hashWindows: Boolean = false,
                      engine: String = "auto"): DataFrame = {
    require(windowTokens >= 2, s"windowTokens=$windowTokens")
    val L = windowTokens
    val tokenized = graft.operators.Balance
      .input(df.select(col(idCol), col(textCol)))
      .select(col(idCol),
        filter(split(col(textCol), "\\s+"), t => t =!= "").as("__toks"))
    val (keyed, keys) =
      if (resolveRankEngine(df, engine, hashWindows))
        (rankKeyedWindows(tokenized, idCol, L), Seq("__k0", "__k1"))
      else {
        val nWin = size(col("__toks")) - L + 1
        val winsRaw = tokenized.select(col(idCol),
          posexplode(when(nWin >= 1,
            transform(sequence(lit(0), (nWin - 1).cast("int")),
              i => concat_ws(" ", slice(col("__toks"), i + 1, lit(L)))))
            .otherwise(array()))
            .as(Seq("pos", "win")))
        val wins =
          if (!hashWindows) winsRaw
          else winsRaw.withColumn("win", xxhash64(col("win")))
        (wins, Seq("win"))
      }
    // corpus-first winner per distinct window: salted two-phase min +
    // composite join-back (markCorpusFirst) — a win-partitioned window
    // would sort a hot window's whole containing-doc set in one task
    val removed = removedWindowStarts(keyed, keys, idCol)
    tokenized.join(removed, Seq(idCol), "left")
      .select(col(idCol), size(col("__toks")).cast("long").as("n_tokens"),
        filter(col("__toks"), (_, j) =>
          col("__rs").isNull ||
            !exists(col("__rs"), s => s <= j && j < s + L)).as("__kept"))
      .withColumn("n_kept", size(col("__kept")).cast("long"))
      .filter(col("n_kept") >= 1)
      .select(col(idCol), col("n_tokens"), col("n_kept"),
        array_join(col("__kept"), " ").as("dedup_text"))
  }

  /** Engine selection for the window-keyed dedup tiers (round 19, guide
    * §2.3/§5): `"strings"` and `"ranks"` force their engine (results
    * identical — spec-pinned); `"auto"` picks the prefix-doubling RANK
    * engine once the INPUT's estimated bytes reach
    * `spark.graft.dedup.rankEngineMinBytes` (conf, default 64 GiB) and
    * the window-string engine below it. Rationale, measured honestly
    * (RepeatDedupBench): at local/in-memory shuffle speeds the one wide
    * window-string exchange wins wall clock ~4×, but its exchange bytes are
    * O(L × token bytes) per position (~6× the corpus at L=8, ~40× at the
    * Lee-et-al. L=50) where the rank engine shuffles O(log L) fixed
    * 24-byte rounds — the axis that binds once the exchange crosses a
    * real network (guide §2.2/§2.3: shuffle fewer bytes). A 64 GiB+ text
    * input's window-string exchange is multi-hundred-GB — plainly
    * network-bound on any real deployment — while every local/test scale
    * stays on strings, keeping the bench comparable. `hashWindows = true`
    * (the caller's explicit hashed-string escape hatch) pins the strings
    * engine. The estimate is the optimizer's static `sizeInBytes` — no
    * job runs.
    */
  private def resolveRankEngine(df: DataFrame, engine: String,
                                hashWindows: Boolean): Boolean =
    engine match {
      case "strings" => false
      case "ranks" => true
      case "auto" =>
        !hashWindows && {
          val thr = df.sparkSession.conf
            .getOption("spark.graft.dedup.rankEngineMinBytes")
            .map(_.toLong).getOrElse(64L << 30)
          df.queryExecution.optimizedPlan.stats.sizeInBytes >= thr
        }
      case other =>
        throw new IllegalArgumentException(
          s"engine=$other (strings|ranks|auto)")
    }

  /** The shared d19/d20 removal-verdict middle: from one row per
    * stride-1 window occurrence `(idCol, pos, keyCols…)`, collapse
    * within-doc repeats map-side on the unskewed (id, key) key, elect
    * the corpus-first occurrence per distinct key through
    * [[markCorpusFirst]]'s salted two-phase min + composite join-back,
    * and return one row per affected document with the array of
    * REMOVED window start positions (`__rs`). No partition anywhere
    * scales with a key's document count.
    */
  private def removedWindowStarts(keyed: DataFrame, keyCols: Seq[String],
                                  idCol: String): DataFrame = {
    val perDoc = keyed.groupBy((col(idCol) +: keyCols.map(col)): _*)
      .agg(min(col("pos")).as("pos"), collect_list(col("pos")).as("poss"))
    markCorpusFirst(perDoc, keyCols, idCol, "__isw")
      .withColumn("__rm",
        when(col("__isw"), array_except(col("poss"), array(col("pos"))))
          .otherwise(col("poss")))
      .filter(size(col("__rm")) > 0)
      .groupBy(col(idCol))
      .agg(flatten(collect_list(col("__rm"))).as("__rs"))
  }

  /** Per-position exact window keys of length `L` built by PREFIX
    * DOUBLING over equality-preserving dense labels — the distributed
    * suffix-array construction (Manber–Myers doubling), carried only as
    * far as duplicate detection at threshold L needs: ceil(log2 L)
    * labeling rounds give every position its 2^k-token context rank, and
    * the exact-length key is the OVERLAPPING-halves pair
    * `(r_a(p), r_a(p + L − 2^a))` with `2^a = highestOneBit(L)` — two
    * L-windows are equal iff their half-pairs are equal (the classic
    * sparse-table argument: the halves cover the window with overlap).
    *
    * Why this exists next to the window-string path: the exchange never
    * carries TEXT — round k shuffles fixed 24-byte (pos, label) rows and
    * 16-byte label pairs regardless of L, where window strings cost
    * O(L × token bytes) per position (≈300 B at the Lee-et-al. L=50).
    * And unlike `hashWindows`, equality is EXACT — labels are assigned
    * per distinct value as its RANK in the sorted distinct set
    * (sort + zipWithIndex: the index is the value's ordinal in a total
    * order, so it is identical on every run AND under partial
    * recomputation after executor loss — a monotonically_increasing_id
    * label over a shuffled distinct would depend on nondeterministic
    * shuffle-read order and could relabel a recomputed partition
    * differently from labels already consumed elsewhere in the job),
    * so there is no 64-bit collision caveat at any corpus size.
    * Measured honestly (RepeatDedupBench L=50, 100k docs, local[32]):
    * the string engine wins local WALL CLOCK ~4× — its one wide shuffle
    * beats log L rounds when shuffle bytes move at memory speed — so
    * strings stay the default; what the rank engine buys is bounded
    * exchange WIDTH (log L fixed-width rounds vs O(L)-byte keys, the
    * axis that matters when the exchange crosses a real network) and
    * collision-free exactness where `hashWindows` would otherwise be
    * forced by key volume.
    *
    * Scale shape: windows never cross documents, so ranks live as
    * per-document arrays — each round is (a) a row-local pair build,
    * (b) a distinct + label over the pairs, (c) an equi-join back and a
    * per-document regroup. The label join is a shuffled hash join whose
    * hot keys ("the", frequent bigrams) are exactly the shape AQE's
    * skew-join split handles (the small side replicates); intermediates
    * persist via the auto-releasing skeleton discipline so each round
    * materializes once and every block is freed when the consuming
    * query finishes. Total: O(log L) fixed-width shuffle rounds — the
    * 100 TB path for large thresholds.
    *
    * Returns one row per full L-window: (idCol, pos, __k0, __k1).
    */
  private def rankKeyedWindows(tokenized: DataFrame, idCol: String,
                               L: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.storage.StorageLevel
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val W = Integer.highestOneBit(L)
    // deterministic dense labels: rank in the sorted distinct set. The
    // sorted frame persists (auto-released) so zipWithIndex's count job
    // and the emit read one materialization; the index survives partial
    // recomputation because the sort key is total over distinct values.
    def denseLabels(distinctDf: DataFrame, key: Column): DataFrame = {
      val persisted = Bridge.persistedCopy(distinctDf.sort(key),
        StorageLevel.MEMORY_AND_DISK)
      persisted.releaseAfterNextUse()
      val sorted = persisted.df
      val schema = StructType(sorted.schema.fields :+
        StructField("__r", LongType, nullable = false))
      sorted.sparkSession.createDataFrame(
        sorted.rdd.zipWithIndex.map { case (r, i) =>
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i) },
        schema)
    }
    // width-1 labels: one per distinct token
    val tokOcc = tokenized.select(col(idCol),
      posexplode(col("__toks")).as(Seq("pos", "__t")))
    val lab0 = denseLabels(tokOcc.select(col("__t")).distinct(), col("__t"))
    var cur = tokOcc.join(lab0, "__t")
      .groupBy(col(idCol))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("__r")))),
        x => x.getField("__r")).as("__rks"))
    var w = 1
    while (w < W) {
      // width w → 2w: pair each position's label with the label w ahead
      // (row-local), then re-densify the pairs corpus-wide
      val pairCol = when(size(col("__rks")) >= w + 1,
        transform(sequence(lit(0), (size(col("__rks")) - w - 1).cast("int")),
          i => struct(element_at(col("__rks"), i + 1).as("x"),
            element_at(col("__rks"), i + w + 1).as("y"))))
        .otherwise(array())
      val persisted = Bridge.persistedCopy(
        cur.select(col(idCol), posexplode(pairCol).as(Seq("pos", "__p"))),
        StorageLevel.MEMORY_AND_DISK)
      persisted.releaseAfterNextUse()
      val occ = persisted.df
      val lab = denseLabels(occ.select(col("__p")).distinct(), col("__p"))
      cur = occ.join(lab, "__p")
        .groupBy(col(idCol))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("__r")))),
          x => x.getField("__r")).as("__rks"))
      w *= 2
    }
    // exact length L from overlapping W-wide halves: positions 0 .. n−L
    val off = L - W
    val keyCol = when(size(col("__rks")) >= off + 1,
      transform(sequence(lit(0), (size(col("__rks")) - off - 1).cast("int")),
        i => struct(element_at(col("__rks"), i + 1).as("__k0"),
          element_at(col("__rks"), i + off + 1).as("__k1"))))
      .otherwise(array())
    cur.select(col(idCol), posexplode(keyCol).as(Seq("pos", "__kk")))
      .select(col(idCol), col("pos"),
        col("__kk.__k0").as("__k0"), col("__kk.__k1").as("__k1"))
  }

  /** Variable-length MAXIMAL-repeat dedup — the Lee-et-al.-2021
    * ("Deduplicating Training Data Makes Language Models Better")
    * ExactSubstr tier at its published granularity: every duplicated
    * substring of `minTokens` or more tokens keeps only its corpus-FIRST
    * occurrence (min (id, pos), within-doc repeats included), and each
    * affected document reports its removed extents as MAXIMAL segments —
    * exact boundaries and exact (variable) lengths, not a fixed window
    * grid. This closes [[dedupSubstrings]]' two documented residuals
    * when run at a lower threshold: repeats shorter than its L become
    * visible (set `minTokens` to the published 50 — or 4 here — rather
    * than tuning one L for both cost and semantics), and the removal
    * union is reported per REPEAT REGION (merged extent + length), the
    * unit a curation pipeline audits.
    *
    * Engines (results identical — spec-pinned):
    *  - `"strings"`: stride-1 window strings, the d08/d19
    *    cross-engine-comparable convention — this is the oracle-gated
    *    path.
    *  - `"ranks"`: [[rankKeyedWindows]]' prefix-doubling dense labels —
    *    the exchange never carries text (O(log minTokens) fixed-width
    *    rounds), and equality is exact with NO hash-collision caveat.
    *    Slower at local[32] (measured — see rankKeyedWindows); choose it
    *    when exchange bytes or hash-collision exposure, not local CPU,
    *    is the binding constraint.
    *  - `"auto"` (default): strings below
    *    `spark.graft.dedup.rankEngineMinBytes` of estimated input, ranks
    *    above — see [[resolveRankEngine]].
    *
    * Returns (idCol, n_tokens, n_kept, n_repeats_removed,
    * max_repeat_len, dedup_text): removed-extent count and longest
    * extent per surviving document; documents whose every token was a
    * non-first repeat disappear (pure replays), sub-threshold and
    * null-text documents pass through / vanish like dedupSubstrings'.
    *
    * Shuffle shape at scale: identical to d19's audited shape — one
    * corpus scan into the collapsed (id, key) skeleton, the
    * [[markCorpusFirst]] salted verdict, row-local coverage/segment
    * folding, and one reassembly re-scan (2 parquet scans total). The
    * segment statistics add NO shuffle: maximal extents are a row-local
    * fold over each document's covered-position flags.
    */
  def dedupRepeats(df: DataFrame, textCol: String, idCol: String,
                   minTokens: Int = 4, engine: String = "auto"): DataFrame = {
    require(minTokens >= 2, s"minTokens=$minTokens")
    val L = minTokens
    val tokenized = graft.operators.Balance
      .input(df.select(col(idCol), col(textCol)))
      .select(col(idCol),
        filter(split(col(textCol), "\\s+"), t => t =!= "").as("__toks"))
    val (keyed, keys) =
      if (resolveRankEngine(df, engine, hashWindows = false))
        (rankKeyedWindows(tokenized, idCol, L), Seq("__k0", "__k1"))
      else {
        val nWin = size(col("__toks")) - L + 1
        (tokenized.select(col(idCol),
          posexplode(when(nWin >= 1,
            transform(sequence(lit(0), (nWin - 1).cast("int")),
              i => concat_ws(" ", slice(col("__toks"), i + 1, lit(L)))))
            .otherwise(array()))
            .as(Seq("pos", "__k0"))), Seq("__k0"))
      }
    val removed = removedWindowStarts(keyed, keys, idCol)
    val n = size(col("__toks"))
    // covered-position flags, then maximal-run lengths via a row-local
    // fold (cur run length + completed runs)
    val cov = when(n >= 1,
      transform(sequence(lit(0), (n - 1).cast("int")), j =>
        coalesce(exists(col("__rs"), s => s <= j && j < s + L), lit(false))))
      .otherwise(array().cast("array<boolean>"))
    val segLens = aggregate(col("__cov"),
      struct(lit(0).as("cur"), array().cast("array<int>").as("done")),
      (acc, c) => struct(
        when(c, acc.getField("cur") + 1).otherwise(lit(0)).as("cur"),
        when(!c && acc.getField("cur") > 0,
          concat(acc.getField("done"), array(acc.getField("cur"))))
          .otherwise(acc.getField("done")).as("done")),
      acc => when(acc.getField("cur") > 0,
        concat(acc.getField("done"), array(acc.getField("cur"))))
        .otherwise(acc.getField("done")))
    tokenized.join(removed, Seq(idCol), "left")
      .withColumn("__cov", cov)
      .withColumn("__segs", segLens)
      .withColumn("__kept", filter(col("__toks"), (_, j) =>
        col("__rs").isNull ||
          !exists(col("__rs"), s => s <= j && j < s + L)))
      .select(col(idCol), n.cast("long").as("n_tokens"),
        size(col("__kept")).cast("long").as("n_kept"),
        size(col("__segs")).cast("long").as("n_repeats_removed"),
        coalesce(array_max(col("__segs")), lit(0)).cast("long")
          .as("max_repeat_len"),
        array_join(col("__kept"), " ").as("dedup_text"))
      .filter(col("n_kept") >= 1)
  }

  /** Corpus-wide REPEAT MINING — the analysis complement of
    * [[dedupRepeats]]: every maximal duplicated extent (the merged union
    * of overlapping duplicated `minTokens`-windows, in EVERY occurrence
    * including the corpus-first one) is extracted with its text and
    * grouped corpus-wide. This is the "what IS my boilerplate" question
    * a curation run asks before choosing thresholds: nav menus, license
    * blocks and template sentences surface with their document reach and
    * occurrence counts, ranked.
    *
    * Returns topK rows (repeat_text, repeat_len, n_docs, n_occurrences)
    * ordered by n_occurrences desc, then text. Occurrences count maximal
    * extents (a doc repeating a phrase twice in two separate extents
    * contributes two), n_docs distinct documents.
    *
    * Scale shape: duplicated-ness reaches winner rows through
    * [[markCorpusFirst]]'s composite join-back (`extraAgg` total — no
    * second key-only join re-concentrating a hot key); non-winner rows
    * are duplicated by definition. Extent text rides the exchange once
    * per (doc, extent) — the d19 string convention; the final group-by
    * is partial-aggregated (count-distinct expands to the unskewed
    * (text, id) key first), and top-K is a TakeOrdered, never a global
    * sort.
    */
  def repeatProfile(df: DataFrame, textCol: String, idCol: String,
                    minTokens: Int = 4, topK: Int = 100): DataFrame = {
    require(minTokens >= 2, s"minTokens=$minTokens")
    val L = minTokens
    val tokenized = graft.operators.Balance
      .input(df.select(col(idCol), col(textCol)))
      .select(col(idCol),
        filter(split(col(textCol), "\\s+"), t => t =!= "").as("__toks"))
    val nWin = size(col("__toks")) - L + 1
    val wins = tokenized.select(col(idCol),
      posexplode(when(nWin >= 1,
        transform(sequence(lit(0), (nWin - 1).cast("int")),
          i => concat_ws(" ", slice(col("__toks"), i + 1, lit(L)))))
        .otherwise(array()))
        .as(Seq("pos", "__k0")))
    val perDoc = wins.groupBy(col(idCol), col("__k0"))
      .agg(min(col("pos")).as("pos"), collect_list(col("pos")).as("poss"))
    val marked = markCorpusFirst(perDoc, Seq("__k0"), idCol, "__isw",
      extraAgg = Seq("__tot" -> sum(size(col("poss")))))
    // coverage = every occurrence of a window with ≥2 corpus occurrences:
    // non-winner rows always (the winner site is elsewhere), winner rows
    // when the corpus total says so
    val covStarts = marked
      .withColumn("__cv",
        when(!col("__isw") || col("__tot") >= 2, col("poss"))
          .otherwise(array().cast("array<int>")))
      .filter(size(col("__cv")) > 0)
      .groupBy(col(idCol))
      .agg(flatten(collect_list(col("__cv"))).as("__cs"))
    val n = size(col("__toks"))
    // maximal extents with START positions: row-local fold over j
    val segs = aggregate(
      when(n >= 1, sequence(lit(0), (n - 1).cast("int")))
        .otherwise(array().cast("array<int>")),
      struct(lit(-1).as("st"), lit(0).as("cur"),
        array().cast("array<struct<start:int,len:int>>").as("done")),
      (acc, j) => {
        val c = coalesce(exists(col("__cs"), s => s <= j && j < s + L),
          lit(false))
        struct(
          when(c && acc.getField("cur") === 0, j)
            .otherwise(acc.getField("st")).as("st"),
          when(c, acc.getField("cur") + 1).otherwise(lit(0)).as("cur"),
          when(!c && acc.getField("cur") > 0,
            concat(acc.getField("done"), array(struct(
              acc.getField("st").as("start"), acc.getField("cur").as("len")))))
            .otherwise(acc.getField("done")).as("done"))
      },
      acc => when(acc.getField("cur") > 0,
        concat(acc.getField("done"), array(struct(
          acc.getField("st").as("start"), acc.getField("cur").as("len")))))
        .otherwise(acc.getField("done")))
    tokenized.join(covStarts, Seq(idCol), "inner")
      .withColumn("__sg", explode(segs))
      .select(col(idCol),
        concat_ws(" ", slice(col("__toks"), col("__sg.start") + 1,
          col("__sg.len"))).as("repeat_text"),
        col("__sg.len").cast("long").as("repeat_len"))
      .groupBy(col("repeat_text"), col("repeat_len"))
      .agg(countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("repeat_text"))
      .limit(topK)
  }

  /** Per-source boilerplate-span profile — the DISCOVERY complement of
    * [[dedupSpans]]: for each (source, span), the number of the source's
    * documents containing it and the fraction of the source that is. Spans
    * above `minDocFrac` are the templated headers/footers/navigation a
    * crawl's per-site template engine stamps on every page; run this to
    * size `spanTokens`/decide the span-dedup stage before rewriting
    * anything. Shuffle shape: occurrences collapse to distinct
    * (source, span, doc) map-side, then count per (source, span) — both
    * partial-aggregating. The corpus is scanned ONCE: zero-span documents
    * survive the explode as a null-span row (`explode_outer`), so the
    * per-source doc totals derive from the same distinct-span exchange the
    * span counts consume (ReuseExchange dedupes the scan+explode+partial
    * subplan) instead of a second pass over the input.
    */
  def boilerplateSpans(df: DataFrame, textCol: String, idCol: String,
                       sourceCol: String, spanTokens: Int = 3,
                       minDocFrac: Double = 0.1): DataFrame = {
    val tokenized = df.select(col(idCol), col(sourceCol),
      filter(split(col(textCol), "\\s+"), t => t =!= "").as("__toks"))
    val nSpans = ceil(size(col("__toks")) / lit(spanTokens.toDouble)).cast("long")
    val spans = tokenized.select(col(idCol), col(sourceCol),
        explode_outer(when(nSpans >= 1,
          transform(sequence(lit(0), (nSpans - 1).cast("int")),
            i => concat_ws(" ", slice(col("__toks"), i * spanTokens + 1, lit(spanTokens)))))
          .otherwise(lit(null).cast("array<string>")))
          .as("span"))
      .distinct()
    // unhinted join: AQE broadcasts the per-source totals when they fit
    // (usual case), and a 10M-domain crawl still just shuffle-joins two
    // pre-aggregated frames keyed by source
    val perSource = spans.groupBy(col(sourceCol)).agg(countDistinct(col(idCol)).as("__srcdocs"))
    spans.filter(col("span").isNotNull)
      .groupBy(col(sourceCol), col("span")).agg(count(lit(1)).as("n_docs"))
      .join(perSource, sourceCol)
      .withColumn("doc_frac", round(col("n_docs").cast("double") / col("__srcdocs"), 4))
      .filter(col("doc_frac") >= minDocFrac)
      .select(col(sourceCol), col("span"), col("n_docs"), col("doc_frac"))
  }
}
