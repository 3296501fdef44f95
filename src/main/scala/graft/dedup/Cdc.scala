package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Content-defined chunking (CDC) — byte-level dedup for the BINARY side
  * of a crawl corpus (tarballs, PDFs, model checkpoints, re-hosted
  * downloads) where whole-blob hashing (d01's convention) misses
  * everything: a mirror that prepends 100 bytes of HTTP banner to a 1 GB
  * file shares ZERO whole-blob hashes with the original. Fixed-size
  * blocks fail the same way — one inserted byte shifts every later block
  * boundary. CDC cuts chunk boundaries where a rolling hash of the
  * CONTENT hits a mask (the gear-hash family: Xia et al., FastCDC,
  * USENIX ATC 2016), so boundaries re-synchronize within one chunk of an
  * insertion and every later chunk hashes identically — the delta is
  * localized, the dedup survives.
  *
  * Semantics: the rolling state is the classic gear hash
  * `h = (h << 1) + GEAR(b)`; a boundary falls after byte i when
  * `(h & mask) == 0`, with `minSize` bytes skipped after each cut
  * (both a floor on chunk size and the FastCDC speed trick) and a hard
  * `maxSize` forcing a cut on pathological content (e.g. all-zero
  * regions, where gear degenerates). `avgBits` sets the mask
  * (`2^avgBits − 1`), so expected chunk size ≈ minSize + 2^avgBits on
  * random content. The GEAR table is 256 splitmix64 values — fixed,
  * public-constant derivation, so chunkings are reproducible across
  * runs and clusters (the registry convention: identity must be stable
  * to be joinable tomorrow).
  *
  * Scale shape: chunking is row-local (one UDF pass per blob — scan hot
  * path, no shuffle); everything downstream joins/aggregates 8-byte
  * chunk hashes, never chunk bytes (the d01 convention). The per-blob
  * chunk array is bounded by blob size / minSize; blobs themselves are
  * file-sized (MB), not corpus-sized, the same boundedness contract as
  * the multimodal decode tier. Cross-blob structure (shared-chunk pairs)
  * rides [[Containment]]'s prefix-filter machinery over chunk-hash sets
  * — no new join topology.
  */
object Cdc {

  /** 256-entry gear table from splitmix64(i) — deterministic, no RNG. */
  val Gear: Array[Long] = Array.tabulate(256) { i =>
    var z = i.toLong + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** FNV-1a 64-bit over a byte range — the chunk identity hash (pure
    * JVM, no deps; collisions ~n²/2⁶⁵, the repo-wide 64-bit-identity
    * convention).
    */
  def fnv1a(bytes: Array[Byte], from: Int, len: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    val end = from + len
    while (i < end) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** Chunk END offsets (exclusive) for `bytes` — ascending, last ==
    * bytes.length; empty input → no chunks. minSize ≤ every chunk ≤
    * maxSize except possibly the final tail (≥ 1 byte).
    */
  def boundaries(bytes: Array[Byte], minSize: Int,
                 avgBits: Int, maxSize: Int): Array[Int] = {
    val out = new scala.collection.mutable.ArrayBuffer[Int]
    val n = bytes.length
    val mask = (1L << avgBits) - 1
    var start = 0
    while (start < n) {
      if (n - start <= minSize) { out += n; start = n }
      else {
        var h = 0L
        var i = start + minSize // gear warm-up rides inside the skip
        val hardEnd = math.min(start + maxSize, n)
        var cut = -1
        while (cut < 0 && i < hardEnd) {
          h = (h << 1) + Gear(bytes(i) & 0xff)
          if ((h & mask) == 0) cut = i + 1
          i += 1
        }
        if (cut < 0) cut = hardEnd
        out += cut
        start = cut
      }
    }
    out.toArray
  }

  /** One blob → (offset, length, chunk_hash) structs, in order. */
  def chunkBlob(bytes: Array[Byte], minSize: Int,
                avgBits: Int, maxSize: Int): Array[(Int, Int, Long)] = {
    if (bytes == null || bytes.isEmpty) return Array.empty
    val ends = boundaries(bytes, minSize, avgBits, maxSize)
    var prev = 0
    ends.map { e =>
      val t = (prev, e - prev, fnv1a(bytes, prev, e - prev))
      prev = e
      t
    }
  }

  /** Exploded chunk table: (id, chunk_idx, offset, length, chunk_hash).
    * Row-local; the blob bytes never leave their scan task.
    */
  def chunkTable(df: DataFrame, binCol: String, idCol: String,
                 minSize: Int = 2048, avgBits: Int = 13,
                 maxSize: Int = 65536): DataFrame = {
    require(minSize >= 1, s"minSize must be >= 1: $minSize")
    require(avgBits >= 1 && avgBits <= 48, s"avgBits out of [1,48]: $avgBits")
    require(maxSize > minSize, s"maxSize must exceed minSize: $maxSize/$minSize")
    val u = udf { (b: Array[Byte]) =>
      chunkBlob(b, minSize, avgBits, maxSize)
        .zipWithIndex.map { case ((off, len, h), i) => (i, off, len, h) }
    }
    df.select(col(idCol).as("id"), posexplode_outer(u(col(binCol))))
      .select(col("id"), col("col._1").as("chunk_idx"),
        col("col._2").as("offset"), col("col._3").as("length"),
        col("col._4").as("chunk_hash"))
      .filter(col("chunk_idx").isNotNull)
  }

  /** Corpus-level storage report: what chunk-level dedup would save.
    * One row: n_blobs, n_chunks, n_unique_chunks, total_bytes,
    * unique_bytes, saved_pct (integer basis points would be overkill —
    * whole percent, floor). Chunk identity is (chunk_hash, length):
    * the length guard means an (astronomically unlikely) hash collision
    * between different-length chunks cannot miscount bytes.
    */
  def dedupReport(df: DataFrame, binCol: String, idCol: String,
                  minSize: Int = 2048, avgBits: Int = 13,
                  maxSize: Int = 65536): DataFrame = {
    val ch = chunkTable(df, binCol, idCol, minSize, avgBits, maxSize)
    val uniq = ch.groupBy("chunk_hash", "length").agg(count("*").as("refs"))
    uniq.agg(
      sum("refs").cast("long").as("n_chunks"),
      count("*").cast("long").as("n_unique_chunks"),
      sum(col("refs") * col("length")).cast("long").as("total_bytes"),
      sum("length").cast("long").as("unique_bytes"))
      .crossJoin(df.filter(col(binCol).isNotNull)
        .agg(count("*").cast("long").as("n_blobs")))
      .select(col("n_blobs"), col("n_chunks"), col("n_unique_chunks"),
        col("total_bytes"), col("unique_bytes"),
        floor((col("total_bytes") - col("unique_bytes")) * 100 /
          greatest(col("total_bytes"), lit(1))).cast("long").as("saved_pct"))
  }

  /** Create an empty cross-run CHUNK registry — the binary-tier member
    * of the cross-run family (exact d12, MinHash d13, hamming d15, line
    * d22): one (chunk_hash, length) row per chunk ever ingested,
    * bucketed on `chunk_hash` so every later anti-join and append
    * co-locates without shuffling the ever-growing registry side.
    * Registry identity is the 64-bit chunk hash alone (the repo-wide
    * 64-bit-identity convention — collisions ~n²/2⁶⁵); `length` rides
    * along for byte accounting only.
    */
  def createChunkRegistry(spark: org.apache.spark.sql.SparkSession,
                          table: String, buckets: Int = 32): Unit = {
    import spark.implicits._
    graft.sources.Warehouse.writeBucketed(
      Seq.empty[(Long, Int)].toDF("chunk_hash", "length"),
      table, "chunk_hash", buckets)
  }

  /** Incremental chunk-level ingest report across pipeline RUNS — the
    * incremental-backup question "how many bytes does TODAY'S batch
    * actually add, given everything already stored?". Per blob:
    * `n_chunks` (distinct chunks in the blob), `n_new_chunks` /
    * `new_bytes` (chunks this blob REGISTERS: first occurrence within
    * the batch by min id, not already in the registry — each stored
    * byte is attributed to exactly one blob, so `sum(new_bytes)` is the
    * batch's true storage delta). Unless `update = false`, the new
    * chunks append to the registry so the next run sees them.
    *
    * Scale shape: the chunk UDF pass runs ONCE (the per-blob distinct
    * skeleton is materialized via [[graft.sources.Warehouse]]'s bucketed
    * append contract and a lineage-cut persisted copy); everything
    * after carries (8-byte hash, 4-byte length, 8-byte id) skeletons.
    * The batch-winner election is a partial-agg `min(id)` (skew-flat —
    * a boilerplate chunk flooding the batch still aggregates map-side);
    * the registry side of the anti-join never shuffles (bucketed scan).
    * Failure contract = d12's: when updating, "new" derives from the
    * append's OWN delta files, so recomputation after executor loss or
    * a late re-read after the registry grew can never change the
    * report.
    */
  def newChunksAgainstRegistry(df: DataFrame, binCol: String, idCol: String,
                               registryTable: String, update: Boolean = true,
                               minSize: Int = 2048, avgBits: Int = 13,
                               maxSize: Int = 65536): DataFrame = {
    val spark = df.sparkSession
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.storage.StorageLevel

    // one chunk-UDF pass, materialized: per-blob DISTINCT chunks
    val perBlob = Bridge.persistedCopy(
      chunkTable(df, binCol, idCol, minSize, avgBits, maxSize)
        .groupBy(col("id"), col("chunk_hash"))
        .agg(min(col("length")).as("length")),
      StorageLevel.DISK_ONLY).df

    // batch-first winner per distinct chunk: partial-agg min(id)
    val winners = perBlob.groupBy("chunk_hash")
      .agg(min("id").as("win_id"), min("length").as("length"))
    val fresh = winners.join(spark.table(registryTable),
      Seq("chunk_hash"), "left_anti")

    val registered =
      if (!update) fresh
      else {
        val delta = graft.sources.Warehouse.appendBucketedWithDelta(
          fresh.select(col("chunk_hash"), col("length")),
          registryTable, "chunk_hash")
        if (delta.isEmpty) fresh.filter(lit(false))
        else winners.join(spark.read.parquet(delta: _*),
          Seq("chunk_hash"), "left_semi")
      }

    val perBlobNew = registered.groupBy(col("win_id").as("id"))
      .agg(count(lit(1)).as("n_new_chunks"),
        sum("length").cast("long").as("new_bytes"))
    perBlob.groupBy("id").agg(count(lit(1)).as("n_chunks"))
      .join(perBlobNew, Seq("id"), "left_outer")
      .select(col("id"), col("n_chunks"),
        coalesce(col("n_new_chunks"), lit(0L)).as("n_new_chunks"),
        coalesce(col("new_bytes"), lit(0L)).as("new_bytes"))
  }

  /** Binary near-dup pairs by shared-chunk containment: (contained_id,
    * container_id, n_common, n_a) where ≥ tauPct% of a's DISTINCT chunk
    * hashes appear in b — the prepended-banner mirror scores ~99 even
    * though whole-blob hashes disagree. Rides [[Containment]]'s
    * prefix-filter join on the chunk-hash sets (same lossless candidate
    * bound, same row-local verify).
    */
  def containmentPairs(df: DataFrame, binCol: String, idCol: String,
                       minSize: Int = 2048, avgBits: Int = 13,
                       maxSize: Int = 65536, tauPct: Int = 80,
                       minChunks: Int = 5): DataFrame = {
    val sets = chunkTable(df, binCol, idCol, minSize, avgBits, maxSize)
      .groupBy("id")
      .agg(array_sort(array_distinct(collect_list("chunk_hash"))).as("__set"))
    Containment.containmentPairsFromSets(
      sets, "__set", "id", tauPct, minChunks)
  }
}
