package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling: media as opaque `binary` with typed
  * metadata, processed in partition-sized batches.
  *
  * Still images decode for REAL: netpbm via the pure-JVM [[PpmCodec]],
  * PNG/BMP/GIF/JPEG via the JDK's headless ImageIO, and lossless WebP
  * via the pure-JVM [[Vp8lCodec]] ([[ImageCodec]] chains them) — no
  * native dependencies. Only formats with no JVM decode path (lossy
  * WebP/VP8, audio, video) fall back to `decodeStub`, a deterministic fake that
  * keeps the batch contract (one fixed-length float array per row) so the
  * Spark-side plumbing is exercised end to end regardless of codec
  * coverage.
  */
object Multimodal {

  /** Canonical media schema: content plus typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("content", BinaryType, nullable = true),
    StructField("mime", StringType, nullable = true),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("duration_ms", LongType, nullable = true)))

  /** Wrap arbitrary bytes into the media schema (metadata unknown → null). */
  def asMedia(df: DataFrame, idCol: String, binCol: String, mime: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      col(binCol).cast("binary").as("content"),
      lit(mime).as("mime"),
      lit(null).cast("int").as("width"),
      lit(null).cast("int").as("height"),
      lit(null).cast("long").as("duration_ms"))

  /** Fill the media schema's metadata columns (mime, width, height,
    * duration_ms) by REAL container-header parsing ([[MediaMeta]]) — no
    * pixel or sample decode, so it covers the containers the JRE ships
    * no decoder for (WebP dims, MP3/OGG duration, MP4 dims+duration)
    * alongside PNG/GIF/BMP/JPEG/WAV/AIFF/AU. This is the intake step of
    * a curation pipeline: resolution/duration filters and per-format
    * routing run on these columns WITHOUT ever decoding payloads, so
    * the expensive decode tiers only see rows that survive the cheap
    * metadata gates. Unrecognized or corrupt content yields null
    * metadata (mime falls back to the input's mime column when present)
    * — one output row per input row, never a task failure.
    */
  def probeMetadata(media: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val hasMime = media.columns.contains("mime")
    // `carry` columns (a streaming event-time column, routing keys) ride
    // through the probe unchanged, appended after the probed metadata —
    // the batch pipeline passes none, so its schema is byte-stable
    val carried = carry.map(c => media.schema(media.schema.fieldIndex(c)))
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("content", BinaryType, nullable = true),
      StructField("mime", StringType, nullable = true),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("duration_ms", LongType, nullable = true)) ++ carried)
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    val cols = (if (hasMime) Seq("media_id", "content", "mime")
      else Seq("media_id", "content")) ++ carry
    val nFixed = if (hasMime) 3 else 2
    media.select(cols.head, cols.tail: _*).mapPartitions { rows =>
      rows.map { r =>
        val content = r.getAs[Array[Byte]](1)
        val fallbackMime = if (hasMime && !r.isNullAt(2)) r.getString(2) else null
        val tail = (nFixed until nFixed + carry.length).map(r.get)
        MediaMeta.probe(content) match {
          case Some(m) => Row.fromSeq(Seq(r.getLong(0), content, m.mime,
            m.width.map(Int.box).orNull, m.height.map(Int.box).orNull,
            m.durationMs.map(Long.box).orNull) ++ tail)
          case None => Row.fromSeq(Seq(r.getLong(0), content, fallbackMime,
            null, null, null) ++ tail)
        }
      }
    }(enc)
  }

  /** STUB decode: deterministic pseudo-features from the content bytes.
    * Real implementation decodes the image/audio and emits embeddings;
    * the batch shape (one output row per input row, fixed-length
    * float array) is the contract a real decoder must keep.
    */
  private def decodeStub(content: Array[Byte], dim: Int): Array[Float] = {
    if (content == null) Array.fill(dim)(0.0f)
    else {
      val out = new Array[Float](dim)
      var h = 1125899906842597L
      var i = 0
      while (i < content.length) { h = 31 * h + content(i); i += 1 }
      i = 0
      while (i < dim) {
        h ^= h << 13; h ^= h >>> 7; h ^= h << 17
        out(i) = (h.toDouble / Long.MaxValue).toFloat
        i += 1
      }
      out
    }
  }

  /** Feature extraction over media batches: mapPartitions so a real decoder
    * can amortize model/codec init per partition (the Scala analogue of a
    * batched pandas UDF). Output schema: (media_id, features array<float>).
    *
    * netpbm AND PNG/BMP/GIF/JPEG content is REALLY decoded ([[ImageCodec]])
    * into a grid-color feature vector; undecodable formats fall back to
    * the deterministic stub. A corrupt blob yields stub features, never a
    * task failure.
    */
  def extractFeatures(media: DataFrame, dim: Int = 12): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("features", ArrayType(FloatType, containsNull = false), nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    media.select("media_id", "content").mapPartitions { rows =>
      // per-partition init happens here in a real decoder
      rows.map { r =>
        val content = r.getAs[Array[Byte]](1)
        val feats = ImageCodec.decode(content) match {
          case Some(img) =>
            val f = PpmCodec.features(img)
            if (f.length >= dim) f.take(dim)
            else f ++ Array.fill(dim - f.length)(0.0f)
          case None => decodeStub(content, dim)
        }
        Row(r.getLong(0), feats.toSeq)
      }
    }(enc)
  }

  /** Audio feature extraction over media batches — the audio twin of
    * [[extractFeatures]]: WAV/AIFF/AU content REALLY decodes through the
    * pure-JRE [[AudioCodec]] into mono PCM, emitting per-window RMS
    * features plus the measured `duration_ms` and `sample_rate` metadata;
    * formats the JRE cannot read (MP3, OGG) and corrupt blobs fall back
    * to the deterministic stub with null metadata — one output row per
    * input row, never a task failure. Output: (media_id, duration_ms,
    * sample_rate, features).
    */
  def extractAudioFeatures(media: DataFrame, dim: Int = 12): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("duration_ms", LongType, nullable = true),
      StructField("sample_rate", FloatType, nullable = true),
      StructField("features", ArrayType(FloatType, containsNull = false), nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    media.select("media_id", "content").mapPartitions { rows =>
      rows.map { r =>
        val content = r.getAs[Array[Byte]](1)
        AudioCodec.decode(content) match {
          case Some(pcm) =>
            Row(r.getLong(0), pcm.durationMs, pcm.sampleRate,
              AudioCodec.features(pcm, dim).toSeq)
          case None =>
            Row(r.getLong(0), null, null, decodeStub(content, dim).toSeq)
        }
      }
    }(enc)
  }

  /** Resize: REAL nearest-neighbor resample for any [[ImageCodec]]-decodable
    * content (netpbm, PNG/BMP/GIF/JPEG). netpbm re-encodes as P6; ImageIO
    * formats re-encode as PNG (lossless, writer in every JRE) and the mime
    * column is updated to match. Undecodable content keeps its bytes and
    * only the metadata changes (stub path).
    */
  def resize(media: DataFrame, w: Int, h: Int): DataFrame = {
    val resizeUdf = udf { (content: Array[Byte]) =>
      PpmCodec.decode(content) match {
        case Some(img) => (PpmCodec.encode(PpmCodec.resize(img, w, h)), "image/x-portable-pixmap")
        case None => ImageCodec.decode(content) match {
          case Some(img) => (ImageCodec.encodePng(PpmCodec.resize(img, w, h)), "image/png")
          case None => (content, null)
        }
      }
    }
    media
      .withColumn("__r", resizeUdf(col("content")))
      .withColumn("content", col("__r._1"))
      .withColumn("mime", coalesce(col("__r._2"), col("mime")))
      .withColumn("width", lit(w))
      .withColumn("height", lit(h))
      .drop("__r")
  }

  /** STUB frame sampling for video: emits `n` (media_id, frame_idx) rows
    * per video — the explode shape a real sampler produces.
    */
  def sampleFrames(media: DataFrame, n: Int): DataFrame =
    media.select(col("media_id"),
      explode(sequence(lit(0), lit(n - 1))).as("frame_idx"))

  /** 64-bit perceptual difference-hash (dHash) per media row: decode
    * ([[ImageCodec]]: netpbm plus PNG/BMP/GIF/JPEG), resample to a 9×8
    * luminance grid with the same nearest-neighbor kernel [[resize]]
    * uses, and set bit y·8+x when gray(x, y) > gray(x+1, y). A
    * re-encoded copy (PNG↔PPM of one raster) hashes IDENTICALLY and a
    * resized copy lands within a few bits (the grid resample normalizes
    * dimensions before any comparison). Undecodable/corrupt blobs get a
    * NULL fingerprint — never a task failure, and never a false
    * mega-cluster around a sentinel hash value. Appends `phash` to the
    * input columns; mapPartitions like [[extractFeatures]] so a heavier
    * decoder can amortize per-partition init.
    */
  def perceptualHash(media: DataFrame): DataFrame =
    fingerprintColumn(media, "phash", LongType,
      bytes => ImageCodec.decode(bytes).map(dhashOf))

  // The one scaffold behind every perceptual fingerprint column (image
  // dHash, audio envelope hash, video hash vector): append a nullable
  // fingerprint of the given type, decode-or-null per row (corrupt
  // content can never fail a task or form a sentinel mega-cluster),
  // mapPartitions so a heavier decoder can amortize per-partition init.
  // Keeping the null/decode contract in one place is what lets the
  // tiers evolve together.
  private def fingerprintColumn(media: DataFrame, hashCol: String,
                                hashType: DataType,
                                hash: Array[Byte] => Option[Any]): DataFrame = {
    val outSchema = media.schema.add(StructField(hashCol, hashType, nullable = true))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    val cIdx = media.schema.fieldIndex("content")
    media.mapPartitions { rows =>
      rows.map(r =>
        Row.fromSeq(r.toSeq :+ hash(r.getAs[Array[Byte]](cIdx)).orNull))
    }(enc)
  }

  // dHash kernel: 9×8 nearest-neighbor luminance grid, one bit per
  // horizontally-adjacent comparison. Nearest-neighbor preserves region
  // boundaries as FRACTIONS of the image, so integer resizes of blocky
  // content reproduce the same grid.
  private[multimodal] def dhashOf(img: PpmCodec.Image): Long = {
    val g = PpmCodec.resize(img, 9, 8)
    val gray = new Array[Int](9 * 8)
    var i = 0
    while (i < gray.length) {
      val o = i * 3
      gray(i) = (g.rgb(o) & 0xFF) + (g.rgb(o + 1) & 0xFF) + (g.rgb(o + 2) & 0xFF)
      i += 1
    }
    var h = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (gray(y * 9 + x) > gray(y * 9 + x + 1)) h |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    h
  }

  /** Perceptual near-dedup over image content — the multimodal twin of
    * the text dedup tiers: identical, re-encoded, and resized copies of
    * one image collapse to their minimum-`media_id` representative.
    *
    * Three stages, each reusing a proven text-path shape:
    *
    *  1. EXACT tier: identical fingerprints collapse map-side to their
    *     min-id representative (d01's `min` groupBy) — a boilerplate
    *     flood of one re-posted image contributes ONE row to everything
    *     downstream, so the quadratic stage can never see the flood.
    *  2. CANDIDATES: the distinct fingerprints band-join on
    *     Manku-Jain-Sarma wide-prefix tables — block combinations whose
    *     ~32-bit bucket domains never saturate at corpus scale, with the
    *     exact pigeonhole guarantee that two hashes within the Hamming
    *     radius agree on all blocks of at least one table — verified
    *     with `bit_count(a ^ b) <= maxHamming`.
    *  3. CLUSTERS: verified pairs resolve transitively through
    *     [[graft.dedup.Dedup.dupClusters]] (connected components,
    *     keep-min) so chains of successive resizes collapse to one
    *     representative, like every other dedup tier.
    *
    * Rows with NULL fingerprints (undecodable content) always survive:
    * no evidence, no drop. Scale shape: the banded stages shuffle
    * (band, bucket, id, phash) SKELETONS — content bytes only ride the
    * final anti-join on the unskewed `media_id` key.
    */
  def dedupePerceptual(media: DataFrame, maxHamming: Int = 4,
                       phashCol: Option[String] = None): DataFrame = {
    // one decode pass builds the (id, phash) skeleton — or none at all
    // when the caller already carries a fingerprint column (the pipeline
    // composition hashes ONCE and feeds every tier); the shared hamming
    // engine (exact collapse → pigeonhole bands → bit_count verify → CC
    // keep-min) persists it and computes the drop set — the same code
    // path as the SimHash text tier, so the two can never diverge
    val drop = graft.dedup.Dedup.hammingDropIds(
      fingerprintSkeleton(media, phashCol)
        .select(col("media_id").as("id"), col("phash").as("h"))
        .where(col("h").isNotNull),
      maxHamming)
    media.join(drop.withColumnRenamed("id", "media_id"), Seq("media_id"), "left_anti")
  }

  // (media_id, phash) from a caller-supplied fingerprint column when one
  // exists, else from a fresh decode pass — decode is the dominant cost
  // of every perceptual tier, so compositions that run several tiers hash
  // once and pass the column through.
  private def fingerprintSkeleton(media: DataFrame,
                                  phashCol: Option[String]): DataFrame =
    phashCol match {
      case Some(c) => media.select(col("media_id"), col(c).as("phash"))
      case None => perceptualHash(media.select(col("media_id"), col("content")))
        .select(col("media_id"), col("phash"))
    }

  /** REAL frame sampling for multi-frame content — the decode-backed
    * upgrade of [[sampleFrames]]'s stub shape: `n` evenly-spaced frames
    * of an animated GIF (or multi-page TIFF) decode through
    * [[ImageCodec.frames]] and re-encode as PNG content rows, ready for
    * [[extractFeatures]] / [[perceptualHash]] downstream. Content without
    * a multi-frame reader (real video containers, corrupt blobs) degrades
    * to the same n-row shape with null content — one row per (media,
    * sample), never a task failure. Output: (media_id, frame_idx, content,
    * mime, width, height); `frame_idx` is the sample ordinal, 0 to n-1.
    */
  def sampleFramesDecoded(media: DataFrame, n: Int): DataFrame = {
    require(n >= 1, s"n=$n")
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("content", BinaryType, nullable = true),
      StructField("mime", StringType, nullable = true),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    media.select("media_id", "content").mapPartitions { rows =>
      rows.flatMap { r =>
        val stub = (0 until n).map(k => Row(r.getLong(0), k, null, null, null, null))
        ImageCodec.frames(r.getAs[Array[Byte]](1)) match {
          case Some((total, frameAt)) =>
            (0 until n).map { k =>
              // evenly spaced over the animation, endpoints included
              val idx = if (n == 1) 0
                else (k.toLong * (total - 1) / (n - 1)).toInt
              frameAt(idx) match {
                case Some(img) => Row(r.getLong(0), k, ImageCodec.encodePng(img),
                  "image/png", img.width, img.height)
                case None => Row(r.getLong(0), k, null, null, null, null)
              }
            }
          case None => stub
        }
      }
    }(enc)
  }

  /** 64-bit perceptual audio fingerprint per media row
    * ([[AudioCodec.fingerprint]]: RMS-envelope deltas + spectral
    * brightness over the decoded mono PCM) — the audio analogue of
    * [[perceptualHash]], same contract: appends a nullable `ahash`
    * column, corrupt/undecodable blobs get NULL (never a task failure,
    * never a sentinel mega-cluster), mapPartitions so a heavier decoder
    * can amortize per-partition init.
    */
  def audioHash(media: DataFrame): DataFrame =
    fingerprintColumn(media, "ahash", LongType,
      bytes => AudioCodec.decode(bytes).map(AudioCodec.fingerprint))

  /** Perceptual near-dedup over AUDIO content — [[dedupePerceptual]]'s
    * audio twin, riding the same shared Hamming engine
    * ([[graft.dedup.Dedup.hammingDropIds]]): re-encoded copies of one
    * clip (WAV ↔ AIFF ↔ AU of the same PCM — identical fingerprints,
    * exact tier) and small envelope edits (near tier, within
    * `maxHamming` bits) collapse to their minimum-`media_id`
    * representative; clips with different dynamics or clearly different
    * pitch survive. Rows with NULL fingerprints (undecodable) always
    * survive: no evidence, no drop.
    */
  def dedupeAudioPerceptual(media: DataFrame, maxHamming: Int = 4): DataFrame = {
    val drop = graft.dedup.Dedup.hammingDropIds(
      audioHash(media.select(col("media_id"), col("content")))
        .select(col("media_id").as("id"), col("ahash").as("h"))
        .where(col("h").isNotNull),
      maxHamming)
    media.join(drop.withColumnRenamed("id", "media_id"),
      Seq("media_id"), "left_anti")
  }

  /** Incremental AUDIO near-dedup across pipeline RUNS — the audio face
    * of the persisted hamming index, completing the cross-run matrix for
    * the last fingerprint identity (text SimHash:
    * [[graft.dedup.Dedup.simhashNearDedupAgainstIndex]]; image dHash:
    * [[dedupePerceptualAgainstIndex]]; audio envelope hash: this): a
    * batch clip within the index's Hamming radius of anything already
    * ingested — WAV↔AIFF↔AU re-encodes at distance 0, small envelope
    * edits a few bits away — is dropped, and survivors' fingerprints
    * append for the next run. Undecodable rows always survive and never
    * register. Build the index once with `writeHammingIndex` over the
    * historical corpus's (media_id, ahash) skeleton; the probe → drop →
    * append sequence and its failure contract are the shared body's
    * ([[graft.dedup.Dedup.nearDedupAgainstHammingIndex]]), so the three
    * faces can never drift.
    */
  def dedupeAudioPerceptualAgainstIndex(media: DataFrame, table: String,
                                        update: Boolean = true): DataFrame =
    graft.dedup.Dedup.nearDedupAgainstHammingIndex(media,
      audioHash(media.select(col("media_id"), col("content")))
        .select(col("media_id").as("id"), col("ahash").as("h"))
        .where(col("h").isNotNull),
      "media_id", table, update)

  /** Perceptual near-dedup for MULTI-FRAME content (animated GIF,
    * multi-page TIFF — and any future video decoder that plugs into
    * [[ImageCodec.frames]]): a video is a near-dup of another when at
    * least `minMatches` of its `n` sampled frames match the OTHER's
    * same-position frame within `maxHamming` bits of dHash — the
    * composition of [[sampleFramesDecoded]], the per-frame dHash kernel,
    * and the shared Manku band engine
    * ([[graft.dedup.Dedup.hammingBandPairs]] grouped by `frame_idx`),
    * resolved transitively with [[graft.dedup.Dedup.dupClusters]]
    * keep-min like every other dedup tier.
    *
    * Matching is POSITION-ALIGNED by design: sampling is evenly spaced
    * over each animation, so re-encodes and blocky resizes of one
    * animation line up frame for frame, while a REORDERED cut of the
    * same frames misaligns and survives (order is content for video).
    *
    *  1. EXACT tier: videos whose full n-frame hash vectors are
    *     identical collapse to their min-id representative first, so a
    *     re-post flood contributes ONE video to the quadratic stage.
    *     Only fully-decodable videos (all n frames hashed) participate —
    *     two corrupt videos are not "equal".
    *  2. NEAR tier: representatives' frames band-join per frame_idx
    *     (dist-0 pairs included — two videos can share an identical
    *     intro frame yet differ elsewhere), pairs verified by
    *     `bit_count`, then a video edge needs `minMatches` distinct
    *     matching positions.
    *
    * Frames with NULL hashes (corrupt/undecodable) never match —
    * degraded evidence only ever UNDER-drops. Scale shape: everything
    * skewable runs over (frame_idx, id, hash) skeletons; content bytes
    * ride only the final anti-join on the unskewed `media_id`. A
    * boilerplate frame shared by many distinct videos (a studio logo
    * intro) is a hot (frame_idx, band, bucket) key capped at `maxBucket`
    * min-id members — the same truncation trade as the text tiers, and
    * why `minMatches` should stay > 1.
    */
  def dedupeVideoPerceptual(media: DataFrame, n: Int = 4, minMatches: Int = 3,
                            maxHamming: Int = 4, maxBucket: Int = 1000): DataFrame = {
    require(n >= 1 && minMatches >= 1 && minMatches <= n,
      s"n=$n minMatches=$minMatches")
    // one decode pass hashes every sampled frame; persisted because the
    // exact tier, the rep filter, and the band stage all read it
    val persistedFrames =
      org.apache.spark.sql.graftbridge.Bridge.persistedCopy(
        perceptualHash(sampleFramesDecoded(
          media.select(col("media_id"), col("content")), n))
          .select(col("media_id"), col("frame_idx"), col("phash")),
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val frames = persistedFrames.df
    val vecs = frames.groupBy(col("media_id"))
      .agg(count(col("phash")).as("__nh"),
        sort_array(collect_list(struct(col("frame_idx"), col("phash"))))
          .as("__v"))
    val hashable = vecs.filter(col("__nh") === n)
    val reps = hashable.groupBy(col("__v"))
      .agg(min(col("media_id")).as("media_id"))
    val exactDrop = hashable
      .join(reps.withColumnRenamed("media_id", "__rep"), Seq("__v"))
      .filter(col("media_id") =!= col("__rep"))
      .select(col("media_id").as("id"))
    // near-tier contenders: exact-tier survivors plus partially-hashed
    // videos (their own representatives — they can still near-match on
    // their decodable frames)
    val repIds = reps.select(col("media_id"))
      .union(vecs.filter(col("__nh") < n).select(col("media_id")))
    val repFrames = frames.join(repIds, Seq("media_id"), "left_semi")
      .filter(col("phash").isNotNull)
      .select(col("frame_idx"), col("media_id").as("id"), col("phash").as("h"))
    val edges = graft.dedup.Dedup.hammingBandPairs(
        repFrames, Seq("frame_idx"), maxHamming, maxBucket)
      .groupBy(col("a"), col("b"))
      .agg(countDistinct(col("frame_idx")).as("__k"))
      .filter(col("__k") >= minMatches)
      .select(col("a"), col("b"))
    val nearDrop = graft.dedup.Dedup.dupClusters(edges)
      .filter(col("id") =!= col("label"))
      .select(col("id"))
    // eager + lineage-truncated so the decoded-frame cache releases now
    // (the hammingDropIds hygiene contract)
    val drop = exactDrop.union(nearDrop).distinct().localCheckpoint()
    persistedFrames.release()
    media.join(drop.withColumnRenamed("id", "media_id"),
      Seq("media_id"), "left_anti")
  }

  /** Create an empty perceptual-fingerprint registry table for
    * [[dedupePerceptualAgainstRegistry]] — one `phash` column, bucketed
    * on it so every later anti-join and append co-locates without
    * shuffling the (ever-growing) registry side; the media twin of
    * [[graft.dedup.Dedup.createRegistry]].
    */
  def createPerceptualRegistry(spark: org.apache.spark.sql.SparkSession,
                               table: String, buckets: Int = 32): Unit = {
    import spark.implicits._
    graft.sources.Warehouse.writeBucketed(
      Seq.empty[Long].toDF("phash"), table, "phash", buckets)
  }

  /** Incremental EXACT-fingerprint media dedup across pipeline RUNS —
    * the multimodal member of the cross-run family (text content hash:
    * [[graft.dedup.Dedup.dedupAgainstRegistry]]; this: the 64-bit dHash,
    * so re-encoded and blocky-resized re-posts of an already-ingested
    * image are dropped, not just byte-identical ones): dedup `media`
    * within itself (keep-min per fingerprint), drop every row whose
    * dHash is already in the persisted registry, and (unless
    * `update = false`) append the survivors' fingerprints so the NEXT
    * run sees them. Rows with NULL fingerprints (undecodable) always
    * survive and never register. The hamming-radius near tier stays the
    * batch compaction ([[dedupePerceptual]]); this registry is the
    * exact tier's cross-run memory, 8 bytes per distinct image ever
    * kept.
    *
    * Scale shape and failure contract are the text registry's verbatim:
    * the batch collapses map-side to one candidate per distinct
    * fingerprint before touching the registry; the anti-join keys on a
    * registry BUCKETED on the fingerprint (the growing side never
    * shuffles); with `update = true` the big anti-join executes exactly
    * once inside the append job and the returned frame derives from the
    * append's own delta files. Single writer per registry at a time.
    */
  def dedupePerceptualAgainstRegistry(media: DataFrame, registryTable: String,
                                      update: Boolean = true,
                                      phashCol: Option[String] = None): DataFrame = {
    val spark = media.sparkSession
    // one decode pass (or a caller-supplied fingerprint column) builds
    // the (id, phash) SKELETON; content bytes never enter a
    // fingerprint-keyed shuffle — the surviving ids are resolved on
    // skeletons and the payload rides only the final unskewed id
    // semi-join (the discipline of every dedup tier here)
    val persistedSkel =
      org.apache.spark.sql.graftbridge.Bridge.persistedCopy(
        fingerprintSkeleton(media, phashCol),
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val skel = persistedSkel.df
    val nullIds = skel.filter(col("phash").isNull).select(col("media_id"))
    // within-batch keep-min per fingerprint collapses map-side
    val reps = skel.filter(col("phash").isNotNull)
      .groupBy(col("phash")).agg(min(col("media_id")).as("media_id"))
    val freshReps = reps.join(spark.table(registryTable), Seq("phash"),
      "left_anti")
    val keptIds =
      if (!update) nullIds.union(freshReps.select(col("media_id")))
      else {
        val delta = graft.sources.Warehouse.appendBucketedWithDelta(
          freshReps.select(col("phash")), registryTable, "phash")
        val registered =
          if (delta.isEmpty) reps.filter(lit(false))
          else reps.join(spark.read.parquet(delta: _*), Seq("phash"),
            "left_semi")
        nullIds.union(registered.select(col("media_id")))
      }
    // eager + lineage-truncated (the hammingDropIds hygiene contract):
    // the decode skeleton releases now, and the returned frame's keep
    // set is FIXED — late re-reads can never re-run the anti-join
    // against a registry later batches have grown
    val kept = keptIds.localCheckpoint()
    persistedSkel.release()
    media.join(kept, Seq("media_id"), "left_semi")
  }

  /** Incremental perceptual NEAR-dedup across pipeline RUNS — the media
    * face of the persisted hamming index
    * ([[graft.dedup.Dedup.writeHammingIndex]] over dHash fingerprints),
    * where [[dedupePerceptualAgainstRegistry]] only catches
    * fingerprint-EXACT replays (re-encodes, blocky resizes): a batch
    * image within the index's Hamming radius of anything already
    * ingested — non-blocky rescales, small crops/edits landing a few
    * bits away — is dropped, and survivors' fingerprints append for the
    * next run. Undecodable rows always survive and never register.
    * Build the index once with `writeHammingIndex(skel, table,
    * maxHamming)` over the historical corpus's (media_id, phash)
    * skeleton; same failure contract as
    * [[graft.dedup.Dedup.simhashNearDedupAgainstIndex]] (ONE decode
    * pass builds a persisted (id, phash) skeleton feeding both the
    * probe and the append — the registered fingerprints are that
    * skeleton minus the drop set, exactly the fingerprints of the rows
    * the caller receives).
    */
  def dedupePerceptualAgainstIndex(media: DataFrame, table: String,
                                   update: Boolean = true,
                                   phashCol: Option[String] = None): DataFrame =
    graft.dedup.Dedup.nearDedupAgainstHammingIndex(media,
      fingerprintSkeleton(media, phashCol)
        .select(col("media_id").as("id"), col("phash").as("h"))
        .where(col("h").isNotNull),
      "media_id", table, update)

  /** STREAMING perceptual dedup — the incremental twin of
    * [[dedupePerceptual]]'s exact tier, shaped like
    * [[graft.streaming.EventStreams.dedupeExact]]: a media row is dropped
    * when its dHash fingerprint was already seen inside the watermark
    * horizon, so re-encoded and (blocky) resized re-posts of one image
    * collapse across micro-batches while state stays one 8-byte hash per
    * distinct surviving image. The hamming-radius band tier stays a batch
    * compaction ([[dedupePerceptual]]): a candidate self-join over the
    * corpus is non-incremental by nature, the same split the text tiers
    * make. Rows with NULL fingerprints (undecodable) always pass through:
    * two corrupt blobs are not "equal", and no evidence means no drop.
    */
  def dedupePerceptualStream(media: DataFrame, tsCol: String,
                             watermark: String = "1 hour"): DataFrame =
    streamDedupByFingerprint(perceptualHash(media), "phash", tsCol, watermark)

  /** STREAMING audio perceptual dedup — [[dedupePerceptualStream]]'s
    * audio twin over [[audioHash]]'s envelope+brightness fingerprint:
    * re-encoded re-posts of one clip (WAV ↔ AIFF ↔ AU) collapse across
    * micro-batches, state stays one 8-byte hash per distinct surviving
    * clip inside the watermark horizon, NULL fingerprints (undecodable)
    * always pass. The hamming-radius tier stays a batch compaction
    * ([[dedupeAudioPerceptual]]), the split every streaming tier makes.
    */
  def dedupeAudioPerceptualStream(media: DataFrame, tsCol: String,
                                  watermark: String = "1 hour"): DataFrame =
    streamDedupByFingerprint(audioHash(media), "ahash", tsCol, watermark)

  /** Full n-frame dHash vector per media row, computed ROW-LOCALLY (one
    * decode pass per row — the frame loop runs inside the function, so
    * the streaming tier needs no per-frame explode or aggregation):
    * appends `vhash`, the ":"-joined hex dHashes of `n` evenly-sampled
    * frames, or NULL unless ALL n frames decode and hash (partial
    * evidence never collapses two videos — [[dedupeVideoPerceptual]]'s
    * exact-tier rule).
    */
  def videoHashVector(media: DataFrame, n: Int): DataFrame = {
    require(n >= 1, s"n=$n")
    fingerprintColumn(media, "vhash", StringType, { bytes =>
      ImageCodec.frames(bytes).flatMap { case (total, frameAt) =>
        val hs = (0 until n).map { k =>
          val idx = if (n == 1) 0 else (k.toLong * (total - 1) / (n - 1)).toInt
          frameAt(idx).map(img => java.lang.Long.toHexString(dhashOf(img)))
        }
        if (hs.forall(_.isDefined)) Some(hs.map(_.get).mkString(":")) else None
      }
    })
  }

  /** STREAMING video perceptual dedup — the incremental twin of
    * [[dedupeVideoPerceptual]]'s exact tier: a multi-frame row drops when
    * its FULL frame-hash vector ([[videoHashVector]] — so re-encodes and
    * blocky rescales of one animation collapse, while a reordered cut
    * keys differently and survives) was already seen inside the watermark
    * horizon. Per-position hamming matching stays a batch compaction
    * ([[dedupeVideoPerceptual]]); rows with NULL vectors (corrupt or
    * partially decodable) always pass.
    */
  def dedupeVideoPerceptualStream(media: DataFrame, n: Int, tsCol: String,
                                  watermark: String = "1 hour"): DataFrame =
    streamDedupByFingerprint(videoHashVector(media, n), "vhash", tsCol, watermark)

  // Shared streaming shape of the three perceptual tiers: key on the
  // fingerprint within the watermark; NULL fingerprints get a
  // per-row-unique key so they never match each other (single pass —
  // one decode per row per batch, no second branch unioned back in).
  private def streamDedupByFingerprint(hashed: DataFrame, hashCol: String,
                                       tsCol: String,
                                       watermark: String): DataFrame =
    hashed
      .withWatermark(tsCol, watermark)
      .withColumn("__dk", when(col(hashCol).isNull,
        concat(lit("n:"), col("media_id").cast("string")))
        .otherwise(concat(lit("h:"), col(hashCol).cast("string"))))
      .dropDuplicatesWithinWatermark("__dk")
      .drop("__dk", hashCol)

}
