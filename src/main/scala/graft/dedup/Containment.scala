package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Asymmetric set-CONTAINMENT join — the quote/subset detector the
  * resemblance tiers (Jaccard d04, MinHash d02) structurally miss: a
  * 50-shingle document quoted verbatim inside a 5,000-shingle aggregator
  * page has Jaccard ≈ 0.01 (invisible to any resemblance threshold) but
  * containment |S(a)∩S(b)|/|S(a)| = 1.0. Finding those pairs is how a
  * curation run spots wrapper/aggregator pages, syndicated quotes, and
  * training documents subsumed by longer ones.
  *
  * Semantics: shingles are DISTINCT word k-grams of the lowercase
  * whitespace tokenization (the d04 convention); for an ordered pair
  * (a, b), a ≠ b, emit (a, b, n_common, n_a) when a has at least
  * `minShingles` shingles and 100·|S(a)∩S(b)| ≥ tauPct·|S(a)| — integer
  * arithmetic end to end, no float thresholds.
  *
  * Scale shape: the naive plan joins full posting lists (every shingle
  * of every doc against every other — sum-of-df² blowup on stop-shingles).
  * This implements the published PREFIX-FILTER candidate generation
  * (Chaudhuri/Ganti/Kaushik 2006; Bayardo/Ma/Srikant "AllPairs" 2007,
  * adapted to containment): order each contained-side doc's shingles by
  * ascending global document frequency (rarest first, ties by hash — a
  * canonical total order), and probe only its first
  * ⌊(1−τ)·|S(a)|⌋+1 shingles. A qualifying pair can miss at most
  * ⌊(1−τ)·|S(a)|⌋ of a's shingles, so it MUST share one of those
  * prefix shingles — the filter is lossless (spec-checked prefix ≡
  * naive), and hot stop-shingles rarely rank into any prefix, so the
  * posting join stays bounded. Verification never re-joins postings:
  * each doc's distinct shingle-hash set rides as ONE array row
  * (documents are KB-bounded) and the intersection is a row-local
  * `array_intersect` on the candidate pair. Shuffles carry 8-byte
  * xxhash64 shingle hashes, never shingle text (the d01 convention:
  * 64-bit-hash identity stands in for string identity; a collision
  * inside one corpus is ~n²/2⁶⁵).
  *
  * Per-doc aggregations (`collect_list` for the prefix) are bounded by
  * document length, not corpus size — no corpus-keyed window anywhere.
  */
object Containment {

  /** Distinct xxhash64'd word k-grams of `text` (empty below k tokens —
    * guarded: Spark's `sequence(1, 0)` would DESCEND, not empty out).
    */
  def shingleHashes(text: Column, k: Int): Column = {
    val toks = filter(split(lower(text), "\\s+"), t => t =!= "")
    val grams = transform(sequence(lit(1), size(toks) - k + 1),
      i => xxhash64(concat_ws(" ", slice(toks, i, lit(k)))))
    array_distinct(when(size(toks) >= k, grams).otherwise(array()))
  }

  /** Ordered containment pairs: (contained_id, container_id, n_common,
    * n_a) with 100·n_common ≥ tauPct·n_a and n_a ≥ minShingles.
    * `prefixFilter=false` runs the naive full-postings candidate join —
    * same rows by construction (the equivalence spec), kept as the
    * oracle-shaped reference path.
    */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
                       k: Int = 3, tauPct: Int = 80, minShingles: Int = 10,
                       prefixFilter: Boolean = true,
                       materialize: graft.pipeline.Materialize =
                         graft.pipeline.Materialize.Local): DataFrame =
    containmentPairsFromSets(
      // shingling is the expensive row-local stage: balance an
      // under-split scan across cores first (no-op on well-split inputs;
      // measured 6.8 cpu-s serialized on ONE task at sf0.1 without it)
      graft.operators.Balance.input(df)
        .select(col(idCol), shingleHashes(col(textCol), k).as("__set")),
      "__set", idCol, tauPct, minShingles, prefixFilter, materialize)

  /** Containment pairs over PRE-BUILT element-hash sets — the entry
    * point shared with the binary tier ([[Cdc.containmentPairs]] feeds
    * chunk-hash sets through here): same prefix-filter candidate bound,
    * same row-local verify, agnostic to what the 64-bit elements mean.
    * `setCol` is a long-array column; it is defensively deduped.
    */
  def containmentPairsFromSets(df: DataFrame, setCol: String, idCol: String,
                               tauPct: Int, minElems: Int,
                               prefixFilter: Boolean = true,
                               materialize: graft.pipeline.Materialize =
                                 graft.pipeline.Materialize.Local): DataFrame = {
    require(tauPct >= 1 && tauPct <= 100, s"tauPct out of (0,100]: $tauPct")
    require(minElems >= 1, s"minElems must be >= 1: $minElems")
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.storage.StorageLevel

    // one set-building pass, shared by postings / prefix / verify reads.
    // The empty-set filter is applied ABOVE the persist barrier, not
    // inside the persisted plan (round 18): pushed below, the predicate
    // (size of the distinct gram array) re-evaluates the whole
    // shingle pipeline at the SCAN — before any Balance repartition —
    // so the corpus tokenization ran twice, once of it serialized on
    // the scan's task count (measured: 3.9 cpu-s on one task at sf0.1).
    // Against the RDD leaf nothing pushes down; the filter is a cheap
    // int comparison per cached row.
    val persisted = Bridge.persistedCopy(
      setsFrameUnfiltered(df, setCol, idCol), StorageLevel.MEMORY_AND_DISK)
    val arr = persisted.df.filter(col("__na") >= 1)

    val cand = candidatePairs(arr, tauPct, minElems, prefixFilter)

    // size filter BEFORE the verify join ships any array: containment
    // needs n_common ≥ ⌈τ·n_a/100⌉ ≤ n_b, so a candidate whose container
    // is too small is dead on arrival — pruned while the pair still
    // weighs 16 bytes (AllPairs' length filter, adapted to containment)
    val sizes = arr.select(col("__id"), col("__na"))
    val sized = cand
      .join(sizes.select(col("__id").as("__a"), col("__na")), "__a")
      .join(sizes.select(col("__id").as("__b"), col("__na").as("__nb")), "__b")
      .filter(col("__nb") * 100 >= col("__na") * tauPct)
      .drop("__nb")
    val verified = sized
      .join(arr.select(col("__id").as("__a"), col("__arr").as("__aArr")), "__a")
      .join(arr.select(col("__id").as("__b"), col("__arr").as("__bArr")), "__b")
      .withColumn("__nc", size(array_intersect(col("__aArr"), col("__bArr"))))
      .filter(col("__nc") * 100 >= col("__na") * tauPct)
      .select(col("__a").as("contained_id"), col("__b").as("container_id"),
        col("__nc").cast("long").as("n_common"),
        col("__na").cast("long").as("n_a"))

    // eager via the caller's Materialize strategy (default Local — the
    // former bare localCheckpoint; Reliable makes the returned frame
    // survive executor loss on preemptible fleets): the small verified
    // pair set must exist before the shingle persist releases below
    // (the minhashCandidates discipline — pairs are the corpus's
    // duplicate structure, tiny next to the corpus itself)
    val out = materialize.cutEager(verified, "containment-pairs").df
    persisted.release()
    out
  }

  /** The distinct-set skeleton `(__id, __arr, __na)` the join stages run
    * over; [[containmentPairsFromSets]] drops empty sets above its
    * persist barrier. ContainBench (since deleted) instrumented candidate
    * counts and verify-join volume on exactly these production stages,
    * never a re-implementation.
    */
  private[graft] def setsFrameUnfiltered(df: DataFrame, setCol: String,
                                         idCol: String): DataFrame =
    df.select(col(idCol).as("__id"),
        array_distinct(col(setCol)).as("__arr"))
      .withColumn("__na", size(col("__arr")))

  /** Candidate (\_\_a, \_\_b) pairs — the prefix-filter (or naive) stage
    * of the production join.
    */
  private[graft] def candidatePairs(arr: DataFrame, tauPct: Int,
                                    minElems: Int,
                                    prefixFilter: Boolean): DataFrame = {
    val postings = arr.select(col("__id").as("__b"),
      explode(col("__arr")).as("__h"))
    val aSide = arr.filter(col("__na") >= minElems)
    if (!prefixFilter) {
      aSide.select(col("__id").as("__a"), explode(col("__arr")).as("__h"))
        .join(postings, "__h")
        .filter(col("__a") =!= col("__b"))
        .select("__a", "__b").distinct()
    } else {
      // global df per shingle via partial-agg groupBy (skew-flat:
      // one row per (h, map partition) in the exchange)
      val dfCounts = postings.groupBy("__h").agg(count("*").as("__df"))
      // ⌊(1−τ)|S(a)|⌋+1 = n_a − ⌈τ·n_a/100⌉ + 1
      val prefLen = (col("__na") -
        floor((col("__na") * tauPct + lit(99)) / 100) + 1).cast("int")
      val prefix = aSide
        .select(col("__id").as("__a"), col("__na"),
          explode(col("__arr")).as("__h"))
        .join(dfCounts, "__h")
        .groupBy("__a", "__na")
        .agg(collect_list(struct(col("__df"), col("__h"))).as("__l"))
        .select(col("__a"),
          explode(slice(array_sort(col("__l")), lit(1), prefLen)).as("__p"))
        .select(col("__a"), col("__p.__h").as("__h"))
      prefix.join(postings, "__h")
        .filter(col("__a") =!= col("__b"))
        .select("__a", "__b").distinct()
    }
  }
}
