package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** SimHash/Hamming seam of [[Dedup]] — the 64-bit fingerprint engine
  * (Manku-Jain-Sarma wide-prefix tables) and its cross-run hamming index.
  * Split from the single Dedup.scala (round 15); no public-API change.
  */
private[graft] trait DedupHamming { this: Dedup.type =>

  /** 64-bit SimHash over whitespace tokens: per-token xxhash64, bitwise
    * vote, sign of each bit sum. Near-dups differ in few bits (compare with
    * `bit_count(a ^ b)`).
    */
  def simhash(text: Column): Column = simhashUdf(split(text, "\\s+"))

  private val simhashUdf = udf { (tokens: Seq[String]) =>
    val votes = new Array[Int](64)
    for (t <- tokens) {
      val h = scala.util.hashing.MurmurHash3.stringHash(t).toLong << 32 |
        (scala.util.hashing.MurmurHash3.stringHash(t.reverse).toLong & 0xFFFFFFFFL)
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
        i += 1
      }
    }
    var out = 0L
    var i = 0
    while (i < 64) { if (votes(i) > 0) out |= (1L << i); i += 1 }
    out
  }

  /** Drop set for HAMMING-RADIUS near-dedup over any 64-bit fingerprint
    * skeleton `(id, h)` — the shared engine of the SimHash text tier
    * ([[simhashNearDedup]]) and the perceptual image tier
    * ([[graft.multimodal.Multimodal.dedupePerceptual]]):
    *
    *  1. EXACT tier: identical fingerprints collapse map-side to their
    *     min-id representative, so a flood of one re-posted fingerprint
    *     contributes ONE row to the quadratic stage.
    *  2. CANDIDATES: distinct fingerprints band-join on Manku-Jain-Sarma
    *     WIDE-PREFIX tables ([[hammingBandPairs]] — pigeonhole over block
    *     combinations, never-saturating ~2^32 bucket domains), verified
    *     with `bit_count(a ^ b)`.
    *  3. CLUSTERS: verified pairs resolve transitively through
    *     [[dupClusters]] keep-min.
    *
    * The input skeleton fans out into every stage, so it is persisted
    * once while the drop set is computed, then RELEASED: the returned
    * frame is eagerly materialized with truncated lineage
    * (`localCheckpoint`), so a long-lived driver running this daily
    * accumulates no cache entries. The trade — the same one
    * [[dupClusters]]' default rounds make — is fault-tolerance, not
    * recoverability: the checkpointed blocks are unreplicated and have
    * no lineage, so losing an executor that holds part of the (small,
    * ids-only) drop set before the caller's anti-join finishes fails
    * that JOB; rerun the operator. Returns one `id` column: every id
    * that is NOT its cluster's minimum; callers anti-join it. Rows with
    * null `h` must be filtered by the caller (no evidence, no drop).
    *
    * Scale: with ~32-bit bucket domains, `maxBucket` (a safety cap on
    * adversarially clustered DISTINCT fingerprints — identical ones
    * collapsed in tier 1) engages only past ~maxBucket × 2^32 ≈ 4×10¹³
    * distinct fingerprints at defaults, orders of magnitude beyond a
    * 100 TB corpus; see [[hammingBandPairs]] for the table design.
    */
  def hammingDropIds(skeleton: DataFrame, maxHamming: Int,
                     maxBucket: Int = 10000): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, s"maxHamming=$maxHamming")
    val persisted = org.apache.spark.sql.graftbridge.Bridge.persistedCopy(
      skeleton.select(col("id"), col("h")),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sk = persisted.df
    val reps = sk.groupBy(col("h")).agg(min(col("id")).as("id"))
    val pairs = hammingBandPairs(reps, Nil, maxHamming, maxBucket)
    // exact-tier drops (same fingerprint, not the min id) plus near-tier
    // drops (cluster label is the min rep, and every member's id >= its
    // rep, so the kept label is the cluster's global min)
    val exactDrop = sk.join(reps.withColumnRenamed("id", "__rep"), Seq("h"))
      .filter(col("id") =!= col("__rep"))
      .select(col("id"))
    val nearDrop = dupClusters(pairs)
      .filter(col("id") =!= col("label"))
      .select(col("id"))
    // eager + lineage-truncated so the skeleton cache can be dropped NOW
    // (fault-tolerance trade documented in the scaladoc above)
    val drop = exactDrop.union(nearDrop).distinct().localCheckpoint()
    persisted.release()
    drop
  }

  // Cap on the Manku table count C(d, maxHamming): at the defaults in use
  // (maxHamming ≤ 4) the widest 32-bit-prefix design fits exactly; larger
  // radii trade prefix width down to keep the explode factor bounded.
  private val HammingMaxTables = 70

  // C(d, k) with early bail once past `cap` (exact — the multiplicative
  // form stays integral at every step).
  private def binomialCapped(d: Int, k: Int, cap: Int): Long = {
    val kk = math.min(k, d - k)
    var r = 1L
    var i = 0
    while (i < kk) {
      r = r * (d - i) / (i + 1)
      if (r > cap) return r
      i += 1
    }
    r
  }

  /** Table design for Hamming-radius candidate generation — the
    * Manku-Jain-Sarma (WWW'07 near-duplicate detection) layout: split the
    * 64-bit code into `d` blocks; any two codes within Hamming distance
    * `k` differ in at most `k` blocks, so they agree EXACTLY on all
    * blocks of at least one (d−k)-block combination — each combination is
    * one probe table whose bucket key is the concatenation of its blocks
    * (a WIDE prefix, 64·(d−k)/d bits). The search is deliberately capped
    * at d = 2k — a 32-bit prefix (domain 4×10⁹: buckets hold O(1)
    * members even at 10¹⁰ distinct fingerprints, where the narrow
    * maxHamming+1-slice design saturates at ~10⁸ and silently loses
    * recall) — because wider prefixes past that buy nothing a real
    * corpus can measure while the explode factor C(d, k) grows
    * combinatorially; within the cap it picks the largest d whose
    * C(d, k) fits [[HammingMaxTables]], falling back toward narrower
    * prefixes (smaller d) only for large radii. The pigeonhole guarantee
    * is EXACT at any d > k; prefix width only governs bucket collision
    * cost.
    */
  private[graft] def hammingTableDesign(maxHamming: Int): (Int, Seq[Seq[Int]]) = {
    val k = maxHamming
    if (k == 0) return (1, Seq(Seq(0)))
    val d = (math.min(2 * k, 64) to (k + 1) by -1)
      .find(d => binomialCapped(d, k, HammingMaxTables) <= HammingMaxTables)
      .getOrElse(k + 1)
    (d, (0 until d).combinations(d - k).map(_.toSeq).toSeq)
  }

  // Concatenation of the chosen blocks of `h` (block i = bits
  // [i*64/d, (i+1)*64/d)) into one ≤63-bit prefix value.
  private def hammingPrefix(h: Column, combo: Seq[Int], d: Int): Column =
    combo.foldLeft(lit(0L)) { (acc, i) =>
      val lo = (i * 64) / d
      val width = ((i + 1) * 64) / d - lo
      val mask = if (width == 64) -1L else (1L << width) - 1
      shiftleft(acc, width)
        .bitwiseOR(shiftrightunsigned(h, lo).bitwiseAND(lit(mask)))
    }

  /** Width in bits of the bucket key [[hammingTableDesign]] yields for a
    * radius — the number that governs saturation: bucket membership grows
    * ~ distinct_codes / 2^width, so the quadratic verify cost inside
    * buckets stays O(1)-per-code only while the corpus is far below
    * 2^width. The defaults (radius ≤ 4 → 32 bits) hold past 10¹⁰ codes;
    * radius 5 → 24 bits (~1.7×10⁷ domain); radius ≥ 6 → 16 bits, the
    * saturation profile of the narrow pre-Manku design. Exposed so
    * callers can size a radius BEFORE building a billion-code index.
    */
  def hammingPrefixBits(maxHamming: Int): Int = {
    val (d, combos) = hammingTableDesign(maxHamming)
    // block widths differ by ≤1 bit when 64 % d != 0 — report the
    // narrowest combo, the one that saturates first
    combos.map(_.map(i => (i + 1) * 64 / d - i * 64 / d).sum).min
  }

  // Narrow-prefix advisory — the runtime face of [[hammingPrefixBits]]:
  // radii whose design falls below ~24 bits of bucket key silently revert
  // to the saturation profile the wide-prefix rebuild exists to avoid, so
  // every banding pass surfaces it (once per JVM per radius — band rows
  // are built per batch on streaming paths; a per-call warning would spam
  // every micro-batch). Returns the message so specs can pin exactly when
  // the signal fires without scraping logs.
  private val NarrowPrefixFloor = 24
  private val warnedRadii = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private[graft] def narrowPrefixWarning(maxHamming: Int): Option[String] = {
    val bits = hammingPrefixBits(maxHamming)
    if (bits >= NarrowPrefixFloor) None
    else {
      val msg = s"hamming radius $maxHamming yields $bits-bit bucket keys " +
        s"(domain ~${1L << bits}): bucket membership grows linearly past " +
        s"~10^${(bits * 0.301).toInt} distinct fingerprints and recall decays " +
        "once the write-time cap engages. Prefer radius <= 4 (32-bit keys), " +
        "or monitor hammingIndexMaxBucket / rebuild on cap engagement."
      if (warnedRadii.add(maxHamming))
        org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
      Some(msg)
    }
  }

  /** Capped wide-prefix band rows (grpCols..., id, h, band, bucket) of a
    * fingerprint skeleton — the shared explode of the within-run pair
    * generator ([[hammingBandPairs]]) and the persisted cross-run index
    * ([[writeHammingIndex]]). Each (grp, band, bucket) is capped to its
    * `maxBucket` min-id members; the cap window sees ~40 B skeletons
    * only. With ~32-bit prefixes the cap is a guard against adversarial
    * clustering of DISTINCT fingerprints, not a cardinality ceiling:
    * uniform corpora stay at O(1) members per bucket past 10¹⁰ codes —
    * but identical fingerprints all land in the same buckets in EVERY
    * band, so callers must collapse to distinct fingerprints first or
    * over-cap duplicates silently lose their band rows.
    */
  /** Array of (band, bucket) structs for a fingerprint column under the
    * radius's Manku table design — the pure-arithmetic core of
    * [[hammingBandRows]], exposed package-wide so STREAMING index probes
    * can band micro-batches under the index's persisted geometry: the cap
    * window (`row_number`) is unsupported over streaming frames, and a
    * probe side needs no cap — the index side was capped at write.
    */
  private[graft] def hammingBandStructs(h: Column, maxHamming: Int): Column = {
    narrowPrefixWarning(maxHamming)
    val (d, combos) = hammingTableDesign(maxHamming)
    array(combos.zipWithIndex.map { case (combo, t) =>
      struct(lit(t).as("band"), hammingPrefix(h, combo, d).as("bucket"))
    }: _*)
  }

  private[graft] def hammingBandRows(sk: DataFrame, grpCols: Seq[String],
                                     maxHamming: Int, maxBucket: Int): DataFrame = {
    val g = grpCols.map(col)
    val rows = sk.select(g ++ Seq(col("id"), col("h"),
        explode(hammingBandStructs(col("h"), maxHamming)).as("bb")): _*)
      .select(g ++ Seq(col("id"), col("h"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket")): _*)
    // min-id cap via the salted two-phase top-N (t15's discipline): the
    // final per-bucket rank sees ≤ saltParts × maxBucket rows however
    // adversarially clustered the bucket is — the former single
    // row_number window sorted the whole membership in one task
    graft.operators.Skew.saltedTopN(rows,
      g ++ Seq(col("band"), col("bucket")), col("id"), Seq(col("id")),
      maxBucket)
  }

  /** Verified Hamming-radius pairs over a fingerprint skeleton
    * `(grpCols..., id, h)`: explode each row into [[hammingTableDesign]]'s
    * wide-prefix tables ([[hammingBandRows]]), self-join on
    * (grpCols, table, prefix), verify `bit_count(a ^ b) <= maxHamming`.
    * Returns distinct (grpCols..., a, b) with a < b — dist-0 pairs
    * included, so callers that pre-collapse identical fingerprints (the
    * drop-set engine) see only near pairs, while per-group callers (the
    * video frame tier, which must count exact frame matches too) see
    * both.
    */
  private[graft] def hammingBandPairs(sk: DataFrame, grpCols: Seq[String],
                                      maxHamming: Int, maxBucket: Int): DataFrame = {
    val g = grpCols.map(col)
    val bands = hammingBandRows(sk, grpCols, maxHamming, maxBucket)
    val left = bands.withColumnRenamed("id", "a").withColumnRenamed("h", "__ha")
    val right = bands.withColumnRenamed("id", "b").withColumnRenamed("h", "__hb")
    left.join(right, grpCols ++ Seq("band", "bucket"))
      .filter(col("a") < col("b"))
      .filter(expr("bit_count(__ha ^ __hb)") <= maxHamming)
      .select(g ++ Seq(col("a"), col("b")): _*)
      .distinct()
  }

  /** SimHash near-dedup with a HAMMING RADIUS — what the 64-bit SimHash
    * ([[simhash]]) is actually for: where exact-signature dedup
    * (the d03 surface / the streaming [[graft.streaming.EventStreams
    * .dedupeNear]]) only collapses identical signatures, this drops every
    * document within `maxHamming` bits of a cluster representative,
    * transitively, via [[hammingDropIds]] — small text mutations flip few
    * signature bits, so near-identical documents collapse to their min-id
    * representative without any candidate text join.
    */
  def simhashNearDedup(df: DataFrame, textCol: String, idCol: String,
                       maxHamming: Int = 3): DataFrame = {
    // null text carries no signature evidence: such rows never enter the
    // skeleton (the simhash UDF would NPE) and always survive — the same
    // null-fingerprint contract as the image tier
    val drop = hammingDropIds(
      df.filter(col(textCol).isNotNull)
        .select(col(idCol).as("id"), simhash(col(textCol)).as("h")), maxHamming)
    df.join(drop.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
  }

  /** Materialize a persisted HAMMING INDEX over a 64-bit fingerprint
    * skeleton `(id, h)` — the cross-run twin of the within-run hamming
    * engine ([[hammingDropIds]]), completing the family for the
    * fingerprint identities (SimHash text via
    * [[simhashNearDedupAgainstIndex]], perceptual media via
    * [[graft.multimodal.Multimodal.dedupePerceptualAgainstIndex]]): one
    * table of capped Manku wide-prefix band rows (band, bucket, id, h),
    * bucketed on the prefix hash so probes and appends co-locate without
    * shuffling the (ever-growing) index side, plus a `<table>_hspec`
    * geometry sibling (maxHamming/maxBucket — a probe or append can
    * never band with different geometry than the build). Unlike the
    * MinHash index there is no separate signature sibling: the 8-byte
    * fingerprint itself rides the band rows, so verification is a
    * `bit_count` on the joined row — no second lookup.
    *
    * The table is bucketed on the COMPOSITE (band, bucket) key — the
    * probe's join key — so the scan's HashPartitioning matches the join
    * exactly and only the day's batch shuffles; bucketing on the prefix
    * alone would leave the scan incompatible with the (band, bucket)
    * join and re-shuffle the whole accumulated index every probe.
    * NULL fingerprints (undecodable media) are excluded: the probe and
    * append paths never carry them, and banding them would pile every
    * null row of the corpus into d `(band, NULL)` window partitions.
    */
  def writeHammingIndex(skeleton: DataFrame, table: String, maxHamming: Int,
                        buckets: Int = 32, maxBucket: Int = 10000): Unit = {
    require(maxHamming >= 0 && maxHamming < 64, s"maxHamming=$maxHamming")
    val spark = skeleton.sparkSession
    import spark.implicits._
    graft.sources.Warehouse.writeBucketedMulti(
      hammingBandRows(distinctFingerprints(skeleton), Nil,
        maxHamming, maxBucket),
      table, Seq("band", "bucket"), buckets)
    graft.sources.Warehouse.dropTableAndLocation(spark, s"${table}_hspec")
    Seq((maxHamming, maxBucket)).toDF("max_hamming", "max_bucket")
      .coalesce(1)
      .write.mode("overwrite").format("parquet").saveAsTable(s"${table}_hspec")
  }

  /** Largest (band, bucket) membership of a [[writeHammingIndex]] table,
    * with the geometry's write-time cap — the hamming twin of
    * [[minhashIndexMaxBucket]], and the runtime signal the narrow-prefix
    * advisory ([[hammingPrefixBits]]) points at: at radius ≥ 5 the bucket
    * domain shrinks to ≤ 24 bits, so a growing corpus engages the cap by
    * sheer cardinality (not just adversarial clustering) and every probe
    * against an at-cap bucket can silently miss true neighbors. Appends
    * re-cap only within their own generation, so drift accumulates
    * cross-run. One partial-aggregating scan of the 28 B band skeletons;
    * run it on the ops cadence and REBUILD (wider radius budget or bigger
    * cap) once `max_members / cap` approaches 1. Returns
    * (max_members, cap).
    */
  def hammingIndexMaxBucket(spark: org.apache.spark.sql.SparkSession,
                            table: String): (Long, Int) = {
    val cap = spark.table(s"${table}_hspec").head().getInt(1)
    val m = spark.table(table).groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("n")).agg(max(col("n"))).head()
    (if (m.isNullAt(0)) 0L else m.getLong(0), cap)
  }

  /** Append new fingerprints to a [[writeHammingIndex]] table WITHOUT
    * rebuilding (band assignment is pure bit arithmetic — nothing to
    * retrain): band the new skeleton under the persisted geometry,
    * append under the table's own bucket spec, return the delta files.
    * The write-time cap applies within the appended generation only
    * ([[appendToMinhashIndex]]'s documented trade — here the cap guards
    * adversarial prefix clustering, not ordinary cardinality, so
    * cross-generation drift matters only under attack-shaped data).
    */
  def appendToHammingIndex(skeleton: DataFrame, table: String): Seq[String] = {
    val spark = skeleton.sparkSession
    val sp = spark.table(s"${table}_hspec").head()
    graft.sources.Warehouse.appendBucketedWithDeltaMulti(
      hammingBandRows(distinctFingerprints(skeleton), Nil,
        sp.getInt(0), sp.getInt(1)),
      table, Seq("band", "bucket"))
  }

  // The hamming index's verdict is a pure function of the FINGERPRINT
  // ([[hammingDupIdsAgainstIndex]] never returns index ids), so the index
  // needs exactly ONE row per distinct fingerprint: a batch flooding one
  // new code 10k times would otherwise register min(10k, maxBucket)
  // identical-h rows in EVERY band and inflate all future nearby probes'
  // join fan-out by that factor. Min-id keeps the representative stable.
  private def distinctFingerprints(skeleton: DataFrame): DataFrame =
    skeleton.select(col("id"), col("h")).where(col("h").isNotNull)
      .groupBy(col("h")).agg(min(col("id")).as("id"))
      .select(col("id"), col("h"))

  /** Batch skeleton ids with a fingerprint within the index's Hamming
    * radius anywhere in a persisted [[writeHammingIndex]] corpus. The
    * verdict is a pure function of the FINGERPRINT, so the probe runs
    * over the batch's DISTINCT fingerprints — a flood of identical
    * codes (the exact-dup case the cap window would otherwise truncate,
    * losing over-cap ids) collapses to ONE probe row before banding,
    * and the per-fingerprint verdict fans back out to every carrying id
    * with an unskewed 8-byte semi-join. The banded probe joins the
    * index on (band, bucket) — skeletons only, both sides ~28 B rows,
    * the index read in its composite-bucketed layout with no exchange
    * on the index side — and verifies `bit_count` on the joined pair.
    * Exact replays match at distance 0, so this subsumes an exact
    * fingerprint registry.
    */
  def hammingDupIdsAgainstIndex(skeleton: DataFrame, table: String): DataFrame = {
    val spark = skeleton.sparkSession
    val sp = spark.table(s"${table}_hspec").head()
    val (maxHamming, maxBucket) = (sp.getInt(0), sp.getInt(1))
    val distinctH = skeleton.select(col("h")).where(col("h").isNotNull)
      .distinct()
    val dupH = hammingBandRows(distinctH.select(col("h").as("id"), col("h")),
        Nil, maxHamming, maxBucket)
      .withColumnRenamed("h", "__bh")
      .join(spark.table(table).select(col("band"), col("bucket"),
        col("h").as("__ih")), Seq("band", "bucket"))
      .filter(expr("bit_count(__bh ^ __ih)") <= maxHamming)
      .select(col("__bh").as("h")).distinct()
    skeleton.select(col("id"), col("h"))
      .join(dupH, Seq("h"), "left_semi")
      .select(col("id")).distinct()
  }

  /** Incremental SimHash near-dedup across pipeline RUNS — the
    * hamming-radius member of the cross-run family (exact:
    * [[dedupAgainstRegistry]]; MinHash: [[nearDedupAgainstIndex]];
    * embeddings: [[semanticDedupAgainstIndex]]; this: SimHash distance,
    * catching the small-mutation replays whose shingle sets MinHash also
    * sees but at 1/64th the per-doc index bytes): drop every batch doc
    * whose SimHash is within the index's radius of anything already
    * ingested, and (unless `update = false`) append the survivors'
    * fingerprints so the NEXT run sees them. Null-text rows always
    * survive and never register.
    *
    * Failure contract (the semantic twin's, verbatim): the signature
    * skeleton is computed ONCE (persisted — the dominant tokenize+hash
    * pass never runs twice, the [[writeMinhashIndex]] discipline), the
    * drop set is eagerly checkpointed from it, the SURVIVOR rows are
    * checkpointed next, and the registered fingerprints are that same
    * skeleton minus the drop set — exactly the fingerprints the probe
    * used for the rows the caller receives, so a non-deterministic
    * batch cannot register a fingerprint it never emits, the probe
    * cannot observe its own append, and late re-reads cannot lose rows.
    * Single writer per index at a time.
    */
  def simhashNearDedupAgainstIndex(df: DataFrame, textCol: String,
                                   idCol: String, table: String,
                                   update: Boolean = true): DataFrame =
    nearDedupAgainstHammingIndex(df,
      df.filter(col(textCol).isNotNull)
        .select(col(idCol).as("id"), simhash(col(textCol)).as("h")),
      idCol, table, update)

  /** The probe → anti-join → append sequence shared VERBATIM by the text
    * ([[simhashNearDedupAgainstIndex]]) and media
    * ([[graft.multimodal.Multimodal.dedupePerceptualAgainstIndex]]) faces
    * of the hamming index — one body so the failure contract can never
    * drift between the tiers. `skeleton` is the caller's (id, h) frame
    * with nulls already excluded; rows of `df` absent from it (null
    * text / undecodable media) survive the anti-join by construction and
    * never register.
    */
  private[graft] def nearDedupAgainstHammingIndex(
      df: DataFrame, skeleton: DataFrame, idCol: String, table: String,
      update: Boolean): DataFrame = {
    val persisted =
      org.apache.spark.sql.graftbridge.Bridge.persistedCopy(
        skeleton, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val skel = persisted.df
    val dupIds = hammingDupIdsAgainstIndex(skel, table).localCheckpoint()
    val survivors = df.join(dupIds.withColumnRenamed("id", idCol),
      Seq(idCol), "left_anti").localCheckpoint()
    if (update) appendToHammingIndex(
      skel.join(dupIds, Seq("id"), "left_anti"), table)
    persisted.release()
    survivors
  }
}
