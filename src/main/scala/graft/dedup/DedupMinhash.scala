package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** MinHash/LSH seam of [[Dedup]] — shingles, signatures, banding, the
  * candidate pipeline, and the cross-run band index. Split from the single
  * Dedup.scala (round 15) along its published seams with NO public-API
  * change: every member is still reached as `Dedup.<name>`; the self-type
  * keeps cross-seam calls (n-gram verify sets, dupClusters) intact.
  */
private[graft] trait DedupMinhash { this: Dedup.type =>

  /** Word k-shingles as 64-bit hashes (xxhash64 of each shingle string).
    * Sub-`k`-token documents degenerate to one hash of the space-joined
    * TOKEN SEQUENCE (not the raw text), so whitespace-only differences in
    * short docs collide here exactly as they do in the fused
    * [[minhashSignatureFromText]] path.
    */
  def shingleHashes(text: Column, k: Int = 3): Column = {
    val toks = split(text, "\\s+")
    val n = size(toks)
    when(n < k, array(xxhash64(concat_ws(" ", toks))))
      .otherwise(transform(sequence(lit(1), n - lit(k - 1)),
        i => xxhash64(concat_ws(" ", slice(toks, i, lit(k))))))
  }

  // Deterministic a_i/b_i permutation parameters (splitmix64-expanded).
  private def permParams(numHashes: Int, seed: Long): (Array[Long], Array[Long]) = {
    var x = seed
    def next(): Long = {
      x += 0x9E3779B97F4A7C15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    (Array.fill(numHashes)(next() | 1L), Array.fill(numHashes)(next()))
  }

  /** MinHash signature column over precomputed shingle hashes: permutation
    * i is h_i(x) = a_i*x + b_i (wrapping 64-bit — a near-universal family),
    * minimized per permutation in one tight loop.
    *
    * A UDF on purpose: the numHashes × shingles double loop is pure long
    * arithmetic; the higher-order-function formulation evaluates an
    * interpreted lambda per cell (~7 µs each — 30+× slower end to end),
    * which is exactly the "custom expression beats composition" case.
    */
  def minhashSignature(shingles: Column, numHashes: Int = 64, seed: Long = 42L): Column = {
    val (as, bs) = permParams(numHashes, seed)
    val f = udf { (hs: Seq[Long]) => signatureOf(hs.iterator, numHashes, as, bs) }
    f(shingles)
  }

  /** Fused text → MinHash signature: tokenize, rolling k-gram shingle
    * hashes, and the permutation minima all in one allocation-lean loop —
    * the form the 100 TB dedup pass uses (one UDF call per document, no
    * intermediate shingle arrays materialized into the row).
    */
  def minhashSignatureFromText(text: Column, k: Int = 3,
                               numHashes: Int = 64, seed: Long = 42L): Column = {
    val (as, bs) = permParams(numHashes, seed)
    val f = udf { (s: String) =>
      if (s == null) signatureOf(Iterator.empty, numHashes, as, bs)
      else {
        // limit -1: trailing empty tokens kept, matching Spark's split()
        // and DuckDB's string_split_regex — the three tokenizations must
        // agree or hashed grams diverge from their string-gram oracles
        val toks = WS.split(s, -1)
        val th = new Array[Long](toks.length)
        var i = 0
        while (i < toks.length) {
          val t = toks(i)
          th(i) = (scala.util.hashing.MurmurHash3.stringHash(t).toLong << 32) |
            (scala.util.hashing.MurmurHash3.stringHash(t, 0x9747b28c).toLong & 0xFFFFFFFFL)
          i += 1
        }
        val grams =
          if (toks.length < k) Iterator.single(th.foldLeft(1125899906842597L)(_ * 31 + _))
          else (0 to toks.length - k).iterator.map { i0 =>
            var h = 1125899906842597L
            var j = 0
            while (j < k) { h = h * 0x100000001B3L + th(i0 + j); j += 1 }
            h
          }
        signatureOf(grams, numHashes, as, bs)
      }
    }
    f(text)
  }

  private def signatureOf(hs: Iterator[Long], numHashes: Int,
                          as: Array[Long], bs: Array[Long]): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    while (hs.hasNext) {
      val h = hs.next()
      var i = 0
      while (i < numHashes) {
        val v = as(i) * h + bs(i)
        if (v < sig(i)) sig(i) = v
        i += 1
      }
    }
    sig
  }

  /** LSH banding: explode the signature into (band, bucket) keys. Documents
    * sharing any band bucket are near-dup candidates. `bands` must divide
    * the signature length.
    *
    * Bucket hashes are an FNV fold over each band's signature rows plus the
    * band index, computed in one tight loop per document — the composed
    * form (slice + concat_ws + xxhash64 per band) pays ~11 µs of
    * interpreted-lambda dispatch per band, which dominated the whole
    * minhash pass at corpus scale.
    */
  def lshBands(df: DataFrame, sigCol: String, bands: Int, idCol: String): DataFrame = {
    val f = bandBucketsUdf(bands)
    df.select(col(idCol), posexplode(f(col(sigCol))).as(Seq("band", "bucket")))
  }

  // package-visible: the streaming banded near-dedup reuses the exact
  // batch band-key fold so its collision semantics mirror L2's
  private[graft] def bandBucketsUdf(bands: Int) = udf { (sig: Seq[Long]) =>
    val rows = sig.length / bands
    val out = new Array[Long](bands)
    var b = 0
    var i = 0
    while (b < bands) {
      var h = 0xCBF29CE484222325L ^ b
      var r = 0
      while (r < rows) { h = (h ^ sig(i)) * 0x100000001B3L; r += 1; i += 1 }
      out(b) = h
      b += 1
    }
    out
  }

  /** Candidate near-dup pairs from LSH buckets: self-join on (band, bucket),
    * deduped across bands. The join key cardinality ~ corpus size × bands,
    * so this scales linearly; skewed (hot) buckets are handled by AQE.
    *
    * `maxBucket` bounds the one remaining quadratic edge: a bucket of m
    * documents emits m·(m−1)/2 pairs from the self-join, and real crawls
    * have near-identical-boilerplate clusters (templated pages, legal
    * footers) that survive exact dedup and land m ≫ 10⁴ documents in one
    * bucket — m² pair emission there stalls the stage no matter how AQE
    * splits the partition. Buckets larger than `maxBucket` instead emit a
    * CHAIN (each member paired with its successor — m−1 pairs), keeping
    * the bucket one connected component for [[dupClusters]] while
    * [[nearDedup]]'s greedy rule still drops all but one member. Cost per
    * oversized bucket falls from O(m²) pairs to an O(m log m) sort + O(m)
    * pairs; buckets at or under the bound are exhaustively paired exactly
    * as before, so results on a corpus with no mega-bucket are unchanged.
    *
    * Chain ORDER is a full-signature fingerprint, not the id: a mega-
    * bucket is a band collision, so it can mix several true near-dup
    * clusters with moderately-similar outliers, and an id-ordered chain
    * routed through an outlier would lose whole clusters when its links
    * fail Jaccard verification. Sorting by signature fingerprint makes
    * identical-signature members contiguous, so every identical-signature
    * subgroup (the boilerplate clusters the cap exists for) stays
    * internally chained through links that certainly pass verification;
    * what sampling gives up is only cross-subgroup pairs whose similarity
    * was moderate to begin with.
    *
    * EAGER: the returned pair list is materialized (localCheckpoint,
    * ids-only — the hammingDropIds discipline) so the banded skeleton's
    * persist is released before return and the mega-key broadcast
    * decision can be made from the actual key count at runtime.
    */
  def minhashCandidates(df: DataFrame, textCol: String, idCol: String,
                        k: Int = 3, numHashes: Int = 64, bands: Int = 16,
                        maxBucket: Int = 1000,
                        materialize: graft.pipeline.Materialize =
                          graft.pipeline.Materialize.Local): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.storage.StorageLevel
    val sigs = df.select(col(idCol),
      minhashSignatureFromText(col(textCol), k, numHashes).as("sig"))
    // __sg: 64-bit fingerprint of the FULL signature — the chain's sort
    // key (identical docs share it, see the chain-order note above).
    // The banded skeleton is persisted ONCE (released before return —
    // the operator is eager, see the checkpoint below), so the dominant
    // signature-UDF pass runs exactly once no matter how many branches
    // read it — which frees the bucket-size and successor derivations
    // from the former count/lead-over-Window.partitionBy(band, bucket)
    // coupling that routed a mega-bucket's whole membership through ONE
    // window-sort task (the last corpus-scaling window in the dedup
    // family).
    val persistedBb = Bridge.persistedCopy(
      sigs.select(col(idCol), xxhash64(col("sig")).as("__sg"),
        posexplode(bandBucketsUdf(bands)(col("sig"))).as(Seq("band", "bucket"))),
      StorageLevel.MEMORY_AND_DISK) // skeleton rows are 32 B — the
    // hammingDropIds level; released before return either way
    val bb = persistedBb.df
    // bucket sizes by PARTIAL-AGG (the count exchange carries at most one
    // row per (band, bucket) per map partition regardless of skew), then
    // the small/mega SPLIT routes through the MEGA-KEY LIST, not a
    // per-row size join-back. Mega keys are rare by construction (each
    // holds > maxBucket members), so the list is materialized eagerly
    // (localCheckpoint — this makes the whole operator EAGER, the
    // hammingDropIds discipline) and BROADCAST explicitly: both split
    // joins become map-side filters over the persisted skeleton, which
    // is never hash-partitioned by the (skewed) bucket key at all. AQE's
    // skew split cannot cover this join — its pattern needs bare shuffle
    // stages on both sides, and the key list is an aggregate — hence the
    // driver-side runtime decision. Degenerate guard: a corpus whose
    // mega-key list itself is huge (> rows/maxBucket ≈ 4M keys needs a
    // >4-billion-row single bucket domain) falls back to the shuffled
    // join rather than OOM the driver.
    val megaKeys = bb.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") > maxBucket)
      .select(col("band"), col("bucket"))
      .localCheckpoint()
    val nMega = megaKeys.count()
    // EMPTY-MEGA FAST PATH (round 19, guide §1.2 — don't compute things
    // you throw away): no bucket over the cap — the overwhelmingly
    // common case below boilerplate-flood scale — means the anti-join
    // is an identity and the whole chain branch (the mega persist, the
    // partition-id window, the boundary stitch) is provably empty.
    // Skipping it drops ~6 driver actions/AQE stages of empty-frame
    // machinery per call; corpora WITH mega buckets take the full path
    // unchanged. Results identical by construction (anti-join with an
    // empty right side is the input; union with empty is the input).
    if (nMega == 0L) {
      val l = bb.select(col(idCol).as("a"), col("band"), col("bucket"))
      val r = bb.select(col(idCol).as("b"), col("band"), col("bucket"))
      val result = materialize.cutEager(
        l.join(r, Seq("band", "bucket")).filter(col("a") < col("b"))
          .select("a", "b").distinct(), "minhash-pairs").df
      persistedBb.release()
      return result
    }
    val mk = if (nMega <= 4000000L) broadcast(megaKeys) else megaKeys
    val small = bb.join(mk, Seq("band", "bucket"), "left_anti")
    val l = small.select(col(idCol).as("a"), col("band"), col("bucket"))
    val r = small.select(col(idCol).as("b"), col("band"), col("bucket"))
    val exhaustive = l.join(r, Seq("band", "bucket")).filter(col("a") < col("b"))
      .select("a", "b")
    // mega-buckets: signature-ordered successor chain per (band, bucket),
    // WITHOUT a bucket-partitioned window — range-partition by the full
    // chain sort key spreads one mega-bucket over many partitions (ties
    // split by id, so even a single identical-signature flood divides
    // uniformly), per-partition successors come from a lead over the
    // PARTITION-ID window (task size = range-partition size, independent
    // of any key's membership), and the cross-partition links are
    // stitched from a first/last-row boundary frame of ≤ one row per
    // partition. least/greatest keeps the (a < b) pair convention
    // nearDedup's drop-the-b-side rule depends on.
    val persistedMega = Bridge.persistedCopy(
      bb.join(mk, Seq("band", "bucket"), "left_semi")
        .select(col("band"), col("bucket"), col("__sg"), col(idCol))
        .repartitionByRange(col("band"), col("bucket"), col("__sg"), col(idCol))
        .withColumn("__pid", spark_partition_id()),
      StorageLevel.DISK_ONLY)
    val mega = persistedMega.df
    val wPid = Window.partitionBy(col("__pid"))
      .orderBy(col("band"), col("bucket"), col("__sg"), col(idCol))
    val inner = mega
      .withColumn("__nb", lead(col("band"), 1).over(wPid))
      .withColumn("__nk", lead(col("bucket"), 1).over(wPid))
      .withColumn("__nxt", lead(col(idCol), 1).over(wPid))
      .filter(col("__nxt").isNotNull &&
        col("__nb") === col("band") && col("__nk") === col("bucket"))
      .select(least(col(idCol), col("__nxt")).as("a"),
        greatest(col(idCol), col("__nxt")).as("b"))
    // boundary stitching: first/last row per non-empty partition (struct
    // order ≡ the chain sort order), densely re-ranked so an empty range
    // partition cannot break adjacency. The rank window is global but its
    // input is ≤ one row per partition — bounded by partition count, the
    // documented prefix-sum-totals class.
    val bounds = mega.groupBy(col("__pid"))
      .agg(min(struct(col("band"), col("bucket"), col("__sg"), col(idCol)))
          .as("__f"),
        max(struct(col("band"), col("bucket"), col("__sg"), col(idCol)))
          .as("__l"))
      .withColumn("__rn", row_number().over(Window.orderBy(col("__pid"))))
    val stitch = bounds.select(col("__rn"), col("__l"))
      .join(bounds.select((col("__rn") - 1).as("__rn"), col("__f")), "__rn")
      .filter(col("__l.band") === col("__f.band") &&
        col("__l.bucket") === col("__f.bucket"))
      .select(least(col(s"__l.$idCol"), col(s"__f.$idCol")).as("a"),
        greatest(col(s"__l.$idCol"), col(s"__f.$idCol")).as("b"))
    // eager so the skeleton persists can be released NOW; the strategy
    // is the caller's (default Local — the former bare localCheckpoint's
    // hammingDropIds fault-tolerance trade; Reliable round-trips the
    // ids-only pair list through parquet so the RETURNED frame survives
    // executor loss on preemptible fleets)
    val result = materialize.cutEager(
      exhaustive.union(inner).union(stitch).distinct(), "minhash-pairs").df
    persistedMega.release(); persistedBb.release()
    result
  }

  /** The full near-dup pipeline: MinHash-LSH candidate generation →
    * n-gram Jaccard verification → thresholded pairs (a, b, jaccard).
    * This is the 100 TB-shaped composition: candidates are linear in
    * corpus size, gram sets are computed once per involved document, and
    * the verify join touches only candidates.
    */
  def nearDuplicates(df: DataFrame, textCol: String, idCol: String,
                     threshold: Double = 0.7, shingleK: Int = 3,
                     numHashes: Int = 64, bands: Int = 16,
                     jaccardN: Int = 2, maxBucket: Int = 1000): DataFrame = {
    val candidates = minhashCandidates(df, textCol, idCol, shingleK, numHashes, bands,
      maxBucket)
    val grams = df.select(col(idCol), ngramHashSet(col(textCol), jaccardN).as("__grams"))
    candidates
      .join(grams.withColumnRenamed(idCol, "a").withColumnRenamed("__grams", "__ga"), "a")
      .join(grams.withColumnRenamed(idCol, "b").withColumnRenamed("__grams", "__gb"), "b")
      .select(col("a"), col("b"), jaccardOfSets(col("__ga"), col("__gb")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Survivors after near-dup removal: keep the lowest id of each dup pair
    * cluster edge (greedy per-pair: drop the higher id of every pair).
    */
  def nearDedup(df: DataFrame, textCol: String, idCol: String,
                threshold: Double = 0.7): DataFrame = {
    val drop = nearDuplicates(df, textCol, idCol, threshold)
      .select(col("b").as(idCol)).distinct()
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** Materialize a MinHash BAND INDEX over a corpus — the NEAR-dup twin
    * of the exact-hash registry ([[createRegistry]]/[[dedupAgainstRegistry]]):
    * a persisted (band, bucket, id) table bucketed on the bucket hash, an
    * id-bucketed `<table>_sigs` signature sibling for verification, and a
    * `<table>_mhspec` geometry sibling (k/numHashes/bands/maxBucket — an
    * append or probe can never hash with different geometry than the
    * build, the `_lshspec` contract). Later batches near-dedup against
    * everything already ingested with ONE signature pass over the day's
    * batch only ([[nearDedupAgainstIndex]]).
    *
    * Mega-bucket bound AT WRITE: each (band, bucket) keeps at most
    * `maxBucket` member rows (deterministic minimum ids — a skeleton-row
    * window, the L2 chain discipline). A batch doc colliding with a
    * truncated boilerplate bucket still verifies against `maxBucket`
    * near-identical representatives, so the dedup VERDICT is unaffected;
    * what is given up is the flood's internal pair list, exactly the
    * batch candidate stage's trade.
    */
  def writeMinhashIndex(df: DataFrame, textCol: String, idCol: String,
                        table: String, k: Int = 3, numHashes: Int = 64,
                        bands: Int = 16, buckets: Int = 32,
                        maxBucket: Int = 1000): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    val sigs = df.select(col(idCol).as("id"),
      minhashSignatureFromText(col(textCol), k, numHashes).as("sig"))
    // sigs first; band rows derive from READING BACK the persisted sigs,
    // so the dominant corpus-wide signature UDF pass runs exactly once
    // (two independent jobs over the same lazy plan would run it twice —
    // the measured ~2× the candidate-stage scaladoc warns about)
    graft.sources.Warehouse.writeBucketed(sigs, s"${table}_sigs", "id", buckets)
    // composite (band, bucket) bucketing: the probe joins on exactly that
    // key set, so the scan co-locates and the ever-growing index side is
    // never re-shuffled (bucketing on the prefix alone is incompatible
    // with the two-key join and forces a full index shuffle every probe)
    graft.sources.Warehouse.writeBucketedMulti(
      bandRowsCapped(spark.table(s"${table}_sigs"), bands, maxBucket),
      table, Seq("band", "bucket"), buckets)
    graft.sources.Warehouse.dropTableAndLocation(spark, s"${table}_mhspec")
    Seq((k, numHashes, bands, maxBucket))
      .toDF("k", "num_hashes", "bands", "max_bucket")
      .coalesce(1)
      .write.mode("overwrite").format("parquet").saveAsTable(s"${table}_mhspec")
  }

  // (id, band, bucket) skeleton rows, each (band, bucket) capped to its
  // deterministic min-id maxBucket members via the salted two-phase
  // top-N — the rank input sees 24-byte skeletons only (never text or
  // signatures) and is bounded at saltParts × maxBucket rows per bucket
  // regardless of how many identical-template documents flood one bucket.
  private def bandRowsCapped(sigs: DataFrame, bands: Int, maxBucket: Int): DataFrame =
    graft.operators.Skew.saltedTopN(
      sigs.select(col("id"),
        posexplode(bandBucketsUdf(bands)(col("sig"))).as(Seq("band", "bucket"))),
      Seq(col("band"), col("bucket")), col("id"), Seq(col("id")), maxBucket)

  /** Append new documents to a [[writeMinhashIndex]] table WITHOUT
    * rebuilding: MinHash signatures are data-independent (seeded
    * permutations from the persisted geometry), so an append is one
    * signature pass over the new rows plus bucketed appends — the
    * grow-don't-retrain contract of the other indexes. The write-time
    * `maxBucket` cap applies within the appended generation only; a
    * bucket can grow past the cap across generations (each append adds at
    * most its own rows), so monitor [[minhashIndexMaxBucket]] (the
    * cardinality twin of [[graft.sources.Warehouse.maxFilesPerBucket]]'s
    * file-count signal) and rebuild — which re-caps — once a hot
    * (band, bucket) has drifted meaningfully past the spec's cap.
    *
    * Single-evaluation contract: the input plan executes exactly ONCE —
    * inside the sigs append — and the band append derives from the sigs
    * append's own delta files (returned, so [[nearDedupAgainstIndex]] can
    * derive its result from the same fixed snapshot). A non-deterministic
    * input therefore cannot register a signature without its bands or
    * vice versa, and a batch plan containing a candidate join against
    * this very index cannot observe its own append.
    */
  def appendToMinhashIndex(newRows: DataFrame, textCol: String, idCol: String,
                           table: String): Seq[String] = {
    val spark = newRows.sparkSession
    val sp = spark.table(s"${table}_mhspec").head()
    val (k, numHashes, bands, maxBucket) =
      (sp.getInt(0), sp.getInt(1), sp.getInt(2), sp.getInt(3))
    val buckets = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(s"${table}_sigs"))
      .bucketSpec.map(_.numBuckets).getOrElse(32)
    val sigs = newRows.select(col(idCol).as("id"),
      minhashSignatureFromText(col(textCol), k, numHashes).as("sig"))
    val delta = graft.sources.Warehouse.appendBucketedWithDelta(
      sigs, s"${table}_sigs", "id")
    if (delta.nonEmpty)
      graft.sources.Warehouse.alignBucketsMulti(
          bandRowsCapped(spark.read.parquet(delta: _*), bands, maxBucket),
          Seq("band", "bucket"), buckets)
        .write.bucketBy(buckets, "band", "bucket").sortBy("band", "bucket")
        .mode("append").format("parquet").saveAsTable(table)
    delta
  }

  /** Largest (band, bucket) membership of a [[writeMinhashIndex]] table,
    * with the geometry's write-time cap for comparison — the drift signal
    * for the cross-generation growth [[appendToMinhashIndex]] documents:
    * appends re-cap only within their own generation, so a boilerplate
    * flood arriving daily grows one hot bucket by up to `maxBucket` rows
    * per run and the candidate join's cost with it. Run this on the ops
    * cadence (it is one partial-aggregating scan of the skeleton index,
    * no text, no signatures) and REBUILD the index once
    * `max_members / cap` is meaningfully above 1.
    * Returns (max_members, cap).
    */
  def minhashIndexMaxBucket(spark: org.apache.spark.sql.SparkSession,
                            table: String): (Long, Int) = {
    val cap = spark.table(s"${table}_mhspec").head().getInt(3)
    val m = spark.table(table).groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("n")).agg(max(col("n"))).head()
    (if (m.isNullAt(0)) 0L else m.getLong(0), cap)
  }

  /** Near-dup pairs of `batch` against a persisted [[writeMinhashIndex]]
    * corpus: (batch_id, corpus_id, est_jaccard). Candidates come from the
    * (band, bucket) join of the batch's band skeletons against the index
    * (the skewable stage carries (id, band, bucket) rows only), and each
    * candidate pair is verified with the MinHash ESTIMATE of Jaccard —
    * the fraction of matching signature components, an unbiased estimator
    * with stderr ≈ 1/√numHashes (±0.125 at 64 hashes) — via id-keyed
    * (unskewed) signature joins. An exact-Jaccard verify would need the
    * corpus TEXT; the index deliberately stores only 8-byte-component
    * signatures, the same read-volume trade the quantized ANN tiers make,
    * so set `minEstJaccard` with the estimator noise in mind.
    *
    * The pair list is EAGERLY materialized with truncated lineage
    * (`localCheckpoint`) so the batch signature skeleton — persisted
    * because it feeds both the band branch and the verify join — is
    * released before returning; a daily-run driver accumulates no cache
    * entries (the [[hammingDropIds]] hygiene contract).
    */
  def nearDupsAgainstIndex(batch: DataFrame, textCol: String, idCol: String,
                           table: String,
                           minEstJaccard: Double = 0.7): DataFrame = {
    val (pairs, release) = nearDupsAgainstIndexLazy(batch, textCol, idCol,
      table, minEstJaccard)
    val out = pairs.localCheckpoint()
    release()
    out
  }

  // The lazy plan + release thunk behind [[nearDupsAgainstIndex]],
  // package-visible so the CI plan guard can inspect the REAL exchanges
  // (the public wrapper's checkpoint collapses the plan to an RDD scan).
  private[graft] def nearDupsAgainstIndexLazy(
      batch: DataFrame, textCol: String, idCol: String, table: String,
      minEstJaccard: Double): (DataFrame, () => Unit) = {
    val spark = batch.sparkSession
    val sp = spark.table(s"${table}_mhspec").head()
    val (k, numHashes, bands) = (sp.getInt(0), sp.getInt(1), sp.getInt(2))
    // the batch signature pass feeds BOTH the band branch and the verify
    // join — persist the (id, sig) skeletons so the UDF pass runs once
    val persisted =
      org.apache.spark.sql.graftbridge.Bridge.persistedCopy(
        batch.select(col(idCol).as("__bid"),
          minhashSignatureFromText(col(textCol), k, numHashes).as("__bsig")),
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bsigs = persisted.df
    val bbands = bsigs.select(col("__bid"),
      posexplode(bandBucketsUdf(bands)(col("__bsig"))).as(Seq("band", "bucket")))
    val cand = bbands.join(spark.table(table), Seq("band", "bucket"))
      .select(col("__bid"), col("id").as("__cid")).distinct()
    val pairs = cand
      .join(bsigs, Seq("__bid"))
      .join(spark.table(s"${table}_sigs")
        .select(col("id").as("__cid"), col("sig").as("__csig")), Seq("__cid"))
      .select(col("__bid").as("batch_id"), col("__cid").as("corpus_id"),
        sigMatchUdf(col("__bsig"), col("__csig")).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard)
    (pairs, () => persisted.release())
  }

  // fraction of matching minhash components — E[frac] = Jaccard
  private[graft] val sigMatchUdf = udf { (a: Seq[Long], b: Seq[Long]) =>
    val n = math.min(a.length, b.length)
    var m = 0
    var i = 0
    while (i < n) { if (a(i) == b(i)) m += 1; i += 1 }
    m.toDouble / math.max(1, n)
  }

  /** Incremental NEAR dedup across pipeline RUNS — the MinHash complement
    * of [[dedupAgainstRegistry]]: drop every batch document with a
    * verified near-dup ([[nearDupsAgainstIndex]]) anywhere in the indexed
    * corpus, and (unless `update = false`) append the survivors'
    * signatures and band skeletons so the NEXT run sees them. An exact
    * replay is a near-dup at est_jaccard 1.0, so this subsumes the exact
    * registry for indexed corpora; within-batch dedup stays the caller's
    * composition ([[exact]]/[[nearDedup]] first), mirroring the
    * single-responsibility split of the other cross-run ops.
    *
    * Failure contract: the candidate join against the big index executes
    * exactly ONCE, eagerly, inside [[nearDupsAgainstIndex]] — its result
    * is checkpointed BEFORE the append starts, so the probe can never
    * observe its own append and a non-deterministic batch plan cannot
    * diverge between the probe and the registered rows. With
    * `update = true` the append then also runs exactly once and the
    * RETURNED frame derives from the append's own delta files, so a late
    * re-read can never re-run any join against an index that already
    * contains this batch's bands and silently lose rows. A crash between
    * the (side-effect-free) probe and the append leaves the index
    * untouched — rerun the batch. Single writer per index at a time.
    */
  def nearDedupAgainstIndex(batch: DataFrame, textCol: String, idCol: String,
                            table: String, minEstJaccard: Double = 0.7,
                            update: Boolean = true): DataFrame = {
    val spark = batch.sparkSession
    val dupIds = nearDupsAgainstIndex(batch, textCol, idCol, table, minEstJaccard)
      .select(col("batch_id").as(idCol)).distinct()
    val fresh = batch.join(dupIds, Seq(idCol), "left_anti")
    if (!update) fresh
    else {
      val delta = appendToMinhashIndex(fresh, textCol, idCol, table)
      if (delta.isEmpty) batch.filter(lit(false))
      else batch.join(spark.read.parquet(delta: _*).select(col("id").as(idCol)),
        Seq(idCol), "left_semi")
    }
  }
}
