package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.storage.StorageLevel
import graft.multimodal.Multimodal

/** The end-to-end MEDIA curation flow — [[CorpusPipeline.curate]]'s
  * multimodal twin, composed from the library's media operators in the
  * order a real intake pipeline runs them: the cheap header-only gates
  * first, so the expensive decode tiers only ever see rows that already
  * passed resolution/duration/format policy, then within-run perceptual
  * dedup, then the cross-run stages against persisted state:
  *
  *   1. metadata probe + gate   (container HEADERS only — no pixel/PCM
  *                               decode; [[Multimodal.probeMetadata]])
  *   2. perceptual dedup        (ONE real decode pass → dHash; exact
  *                               collapse + hamming-radius clustering,
  *                               [[Multimodal.dedupePerceptual]])
  *   3. cross-run exact         (optional: phash registry anti-join,
  *                               [[Multimodal.dedupePerceptualAgainstRegistry]])
  *   4. cross-run near          (optional: persisted hamming index probe,
  *                               [[Multimodal.dedupePerceptualAgainstIndex]])
  *
  * Stage order is a correctness contract, not a preference: the gate
  * must precede the dedup tiers (a gated-out image must not claim the
  * min-id representative slot of a cluster whose survivors it will never
  * join), and the within-run collapse must precede the cross-run probes
  * (the registry/index appends register each distinct fingerprint once —
  * [[graft.dedup.Dedup.dedupAgainstRegistry]]'s discipline). The
  * cross-run appends inside stages 3-4 execute EAGERLY, so by the time
  * curateMedia() returns, the next run already sees this batch. Same
  * single-writer-per-table contract as the text pipeline.
  *
  * Scale shape: stage 1 is one mapPartitions pass over headers (a few
  * hundred bytes read per row — content bytes never shuffle); stages 2-4
  * shuffle only (id, fingerprint) skeletons, with content riding the
  * final unskewed id joins (each operator's own documented discipline).
  */
object MediaPipeline {

  /** Gate policy + cross-run wiring for [[curateMedia]].
    *
    * `minWidth`/`minHeight` drop images below the resolution floor,
    * `maxDurationMs` drops over-long audio/video, `mimePrefixes` (if
    * non-empty) keeps only probed mimes matching a prefix (e.g. "image/"),
    * all evaluated on PROBED header metadata. `keepUnprobed` decides rows
    * carrying no probed evidence (null width, height, AND duration —
    * unrecognized containers): real intake pipelines usually drop them
    * (default); keeping them preserves the dedup tiers'
    * corrupt-rows-survive semantics downstream. A dimension/duration gate
    * is only applied to rows whose container CARRIES that field (audio
    * has no width; stills have no duration).
    *
    * `materialize` governs the hashed survivor set that every dedup tier
    * reads (see [[Materialize]] — the same cluster-safety tradeoffs as
    * the text pipeline, with content bytes in the persisted rows).
    * `compactEveryNFiles` mirrors [[CorpusPipeline.Config.compactEveryNFiles]]:
    * de-fragment the cross-run tables BEFORE the run's appends — never
    * after, because the returned frame derives from the appends' delta
    * files, which a post-hoc compaction would delete.
    */
  case class MediaConfig(
      minWidth: Option[Int] = None,
      minHeight: Option[Int] = None,
      maxDurationMs: Option[Long] = None,
      mimePrefixes: Seq[String] = Nil,
      keepUnprobed: Boolean = false,
      maxHamming: Int = 4,
      registryTable: Option[String] = None,
      registryUpdate: Boolean = true,
      hammingIndexTable: Option[String] = None,
      hammingIndexUpdate: Boolean = true,
      materialize: Materialize = Materialize.Disk,
      compactEveryNFiles: Option[Int] = None)

  /** Curate `media` (the [[Multimodal.mediaSchema]] shape, or anything
    * with media_id + content): returns the surviving rows WITH the probed
    * metadata columns filled and the `phash` fingerprint — the gate's and
    * the dedup tiers' evidence stays on the row for downstream routing.
    *
    * Decode runs ONCE: the gated survivors are fingerprinted in a single
    * [[Multimodal.perceptualHash]] pass, materialized (every tier and the
    * final anti-joins re-read it), and every dedup stage consumes the
    * carried `phash` column instead of decoding again — at intake scale
    * the decode pass dominates all three tiers combined, so a naive
    * composition of the standalone operators would triple the pipeline's
    * dominant cost.
    */
  def curateMedia(media: DataFrame, cfg: MediaConfig = MediaConfig()): DataFrame = {
    cfg.compactEveryNFiles.foreach { maxFiles =>
      val spark = media.sparkSession
      (cfg.registryTable.toSeq ++ cfg.hammingIndexTable.toSeq).foreach(t =>
        graft.sources.Warehouse.compactIfFragmented(spark, t, maxFiles))
    }
    val probed = Multimodal.probeMetadata(media)
    val gated = probed.filter(gateCondition(cfg))
    // the ONE decode pass; every tier below reads phash from the row
    val hashed = cfg.materialize.cut(Multimodal.perceptualHash(gated),
      "curate-media").df
    val ph = Some("phash")
    val withinRun = Multimodal.dedupePerceptual(hashed, cfg.maxHamming, ph)
    val afterRegistry = cfg.registryTable match {
      case None => withinRun
      case Some(t) =>
        Multimodal.dedupePerceptualAgainstRegistry(withinRun, t,
          cfg.registryUpdate, ph)
    }
    cfg.hammingIndexTable match {
      case None => afterRegistry
      case Some(t) =>
        Multimodal.dedupePerceptualAgainstIndex(afterRegistry, t,
          cfg.hammingIndexUpdate, ph)
    }
  }

  // The gate predicate over PROBED metadata columns, shared verbatim by
  // the batch and streaming intakes so the policy contract can never
  // drift: a gate applies only where the container carries the field
  // (probed rows missing it pass that gate), unprobed rows (null width,
  // height AND duration) ride keepUnprobed.
  private def gateCondition(cfg: MediaConfig): org.apache.spark.sql.Column = {
    val unprobed = col("width").isNull && col("height").isNull &&
      col("duration_ms").isNull
    val gates = Seq(
      cfg.minWidth.map(w => col("width").isNull || col("width") >= w),
      cfg.minHeight.map(h => col("height").isNull || col("height") >= h),
      cfg.maxDurationMs.map(d => col("duration_ms").isNull || col("duration_ms") <= d),
      if (cfg.mimePrefixes.isEmpty) None
      else Some(cfg.mimePrefixes.map(p => col("mime").startsWith(p))
        .reduce(_ || _))).flatten
    val pass = gates.foldLeft(lit(true))(_ && _)
    when(unprobed, lit(cfg.keepUnprobed)).otherwise(pass)
  }

  /** STREAMING media intake — [[curateMedia]]'s incremental twin, the
    * media face of [[graft.streaming.EventStreams.curateDocs]]: the same
    * stage order as the batch pipeline, re-expressed in the streaming
    * tiers' disciplines:
    *
    *   1. metadata probe + gate  (header-only, stateless — gated-out rows
    *                              never reach the decode, and `tsCol`
    *                              rides the probe as a carried column)
    *   2. ONE decode pass        ([[Multimodal.perceptualHash]] — every
    *                              later stage reads the carried `phash`)
    *   3. within-watermark state ([[Multimodal.dedupePerceptualStream]]'s
    *                              exact-fingerprint shape: re-encoded and
    *                              blocky-resized re-posts collapse across
    *                              micro-batches inside the horizon)
    *   4. historical index probe (optional `cfg.hammingIndexTable`:
    *                              [[graft.streaming.EventStreams.dedupeHammingAgainstIndex]]
    *                              over the carried phash — near-mutated
    *                              replays of the INDEXED corpus drop,
    *                              which the horizon-bounded state never
    *                              sees)
    *
    * Contracts inherited whole: the gate precedes the dedup tiers
    * (gated-out rows must not claim cluster representative slots); NULL
    * fingerprints (undecodable content) survive both dedup tiers and
    * never register anywhere; the index is static to the stream — probed,
    * NEVER stream-mutated regardless of `cfg.hammingIndexUpdate` (growth
    * stays a batch job, [[graft.dedup.Dedup.appendToHammingIndex]] — the
    * [[graft.streaming.EventStreams.curateDocs]] `nearIndexTable` rule);
    * with the probe enabled the windowed verdict ends the stateful chain,
    * so survivors emit when the watermark passes their window (bounded
    * latency, not immediate) and stage 3's state briefly holds replayed
    * fingerprints until the watermark expires them (the curateDocs
    * exact-path ordering trade, verbatim).
    *
    * Batch-only knobs are rejected loudly rather than silently ignored:
    * `registryTable` (the exact-fingerprint registry is subsumed by the
    * index probe at distance 0 — build the hamming index instead) and
    * `compactEveryNFiles` (compaction is an ops-cadence batch job; a
    * per-micro-batch rewrite of a bucketed table would race the probe's
    * static scans). `materialize` does not apply (streams cannot persist
    * mid-plan; the plan computes `phash` once per branch by construction).
    *
    * Scale shape: stages 1-2 are stateless map passes; stage 3's state
    * store holds one 8-byte fingerprint key per distinct surviving image
    * inside the horizon; stage 4 joins ~28 B band skeletons against the
    * composite-bucketed static index with no exchange on the index side —
    * content bytes never enter a shuffle or the state store.
    */
  def curateMediaStream(media: DataFrame, tsCol: String,
                        cfg: MediaConfig = MediaConfig(),
                        watermark: String = "1 hour",
                        indexWindowLen: String = "5 minutes"): DataFrame = {
    require(cfg.registryTable.isEmpty,
      "registryTable is batch-only: the hamming index probe subsumes exact " +
        "replays at distance 0 — pass hammingIndexTable instead")
    require(cfg.compactEveryNFiles.isEmpty,
      "compactEveryNFiles is batch-only: compact on the ops cadence, not " +
        "per micro-batch")
    val probed = Multimodal.probeMetadata(media, carry = Seq(tsCol))
    val gated = probed.filter(gateCondition(cfg))
    // the ONE decode pass; phash stays on the row as downstream evidence
    val hashed = Multimodal.perceptualHash(gated)
      .withWatermark(tsCol, watermark)
    // within-watermark exact-fingerprint state (the dedupePerceptualStream
    // shape, keeping phash on the survivors for the probe + the caller)
    val afterState = hashed
      .withColumn("__dk", when(col("phash").isNull,
        concat(lit("n:"), col("media_id").cast("string")))
        .otherwise(concat(lit("h:"), col("phash").cast("string"))))
      .dropDuplicatesWithinWatermark("__dk")
      .drop("__dk")
    cfg.hammingIndexTable match {
      case None => afterState
      case Some(t) => graft.streaming.EventStreams.hammingProbeVerdict(
        afterState, col("phash"), "media_id", tsCol, t, indexWindowLen)
    }
  }
}
