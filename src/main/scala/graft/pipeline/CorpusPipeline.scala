package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.text.TextOps

/** The end-to-end training-corpus curation flow, composed from the
  * library's operators in the order a real pipeline runs them — cheap
  * row-local filters first, the (shuffling) dedup passes on the survivors
  * only, contamination last on the smallest set:
  *
  *   1. language ID + quality gate      (columnar, no shuffle; optional
  *                                       model-based gates — classifier
  *                                       score and served-LM cross-entropy —
  *                                       ride the same row-local stage)
  *   2. exact dedup                     (one shuffle on a content hash)
  *   3. MinHash-LSH near-dedup          (banded shuffle, candidates only)
  *   4. span-level exact dedup          (optional: cut repeated boilerplate
  *                                       spans out of survivors — the text
  *                                       REWRITE stage, so everything
  *                                       after keys on the rewritten text)
  *   5. semantic (embedding) dedup      (optional: SemDeDup over an
  *                                       embedding column — collapse
  *                                       embedding near-copies to their
  *                                       min-id representative)
  *   6. benchmark-contamination drop    (broadcast anti-join, optional)
  *   7. per-source quota                (optional: cap each domain's
  *                                       SURVIVING documents — the
  *                                       representation control over what
  *                                       actually ships)
  *   8. train/val/test assignment       (columnar, deterministic)
  *
  * Every stage keeps the semantics of its already-spec'd standalone
  * operator; this object fixes the composition order and threads the
  * columns through. Two measured composition costs are engineered away:
  *
  *  - **Gate expression blow-up**: composing [[TextOps.langId]] /
  *    [[TextOps.qualityScore]] as columns lets Catalyst inline their whole
  *    expression trees into every reference (the gate filter plus each
  *    projection) and the stopword vote's higher-order lambdas run
  *    interpreted — measured ~1.1 s/scan at sf0.1 for ~0.1 s of real
  *    work. The gate therefore uses [[TextOps.langQuality]], the fused
  *    one-pass kernel with spec-identical semantics.
  *  - **Fan-out recompute**: near-dedup reads its input three times with
  *    differently-pruned schemas (no exchange reuse), and contamination
  *    adds two more reads — composed naively that re-runs the gate scan
  *    and the exact-dedup shuffle per branch. `Config.materialize`
  *    (see [[Materialize]]) controls how the post-exact-dedup and
  *    post-near-dedup survivor sets are materialized; the default keeps
  *    lineage so the pipeline stays recoverable on a real cluster.
  */
object CorpusPipeline {

  /** @param langs             kept language codes (from [[TextOps.langId]])
    * @param minQuality        [[TextOps.qualityScore]] threshold
    * @param nearDupThreshold  n-gram Jaccard above which a doc is a dup;
    *                          a value > 1.0 DISABLES the near-dedup stage
    *                          entirely (no signature pass, no band shuffle) —
    *                          the exact-only configuration
    * @param maxContamination  drop docs sharing ≥ this many distinct n-grams
    *                          with the benchmark (when one is given)
    * @param decontaminateSpanTokens  when set (and a benchmark is given),
    *                          the contamination stage turns SPAN-SURGICAL
    *                          ([[Dedup.decontaminateSpans]] with this span
    *                          size): instead of dropping a contaminated
    *                          document, only the spans a shared
    *                          `contaminationNgram`-gram overlaps are cut
    *                          and the clean remainder is kept (rewritten
    *                          like the span-dedup stage; documents cut
    *                          entirely still drop). `maxContamination` is
    *                          not consulted — overlap is decided per gram,
    *                          not per document
    * @param spanDedupTokens   when set, run span-level exact dedup
    *                          ([[Dedup.dedupSpans]] with this span size)
    *                          AFTER document-level dedup and BEFORE
    *                          contamination: repeated boilerplate spans are
    *                          cut out of surviving documents (documents
    *                          consumed entirely are dropped), and the later
    *                          stages — contamination grams, split
    *                          assignment — key on the REWRITTEN text, which
    *                          is the text that actually trains
    * @param substringWindowTokens  when set, run sliding-window exact
    *                          substring dedup ([[Dedup.dedupSubstrings]]
    *                          with this window size) right after the span
    *                          stage — the same text-rewrite shape,
    *                          catching repeats at ANY alignment
    * @param dropRepeatedLines when true, apply
    *                          [[TextOps.dropRepeatedLines]] BEFORE every
    *                          other stage, so all dedup identities key on
    *                          the cleaned text (a refetch with one more
    *                          repeated footer still dedups)
    * @param fixEncoding       when true, apply [[TextOps.fixText]]
    *                          (mojibake repair + NFC + control strip)
    *                          FIRST of all — encoding accidents change
    *                          the bytes every identity downstream keys
    *                          on, so a page crawled once clean and once
    *                          mis-decoded must canonicalize before it
    *                          can dedup
    * @param maxBulletFrac     Gopher line-shape cap: drop docs whose
    *                          bullet-started line fraction exceeds this
    *                          (1.0 = gate off); null fractions pass
    * @param maxEllipsisFrac   same for ellipsis-trailing lines
    * @param embCol            when set, run SemDeDup-style semantic dedup
    *                          ([[Dedup.semanticDedup]] over this embedding
    *                          column) after the text-keyed dedup stages and
    *                          before contamination: documents whose
    *                          embeddings are near-copies (cosine ≥
    *                          `semanticThreshold`) collapse to their
    *                          minimum-id representative. Drops whole rows
    *                          keyed on `idCol`, so it composes exactly like
    *                          the other dedup stages; text rewrites (span
    *                          stage) do not disturb it because it keys on
    *                          the embedding, not the text
    * @param semanticThreshold cosine threshold for the semantic stage
    * @param semanticCentroids k-means cells for the semantic stage's
    *                          within-cell pairing (SemDeDup recipe: grow
    *                          with corpus size, ≈ √N)
    * @param semanticMaxCell   mega-cell chain bound ([[Dedup.semanticDedup]])
    * @param materialize       materialization strategy for survivor sets
    *                          that fan out into multiple downstream reads
    *                          (see [[Materialize]]; `Off` for single-pass
    *                          plans or when the caller persists externally)
    * @param registryTable     when set, the exact-dedup stage becomes
    *                          CROSS-RUN incremental
    *                          ([[Dedup.dedupAgainstRegistry]]): the batch
    *                          dedups within itself (same keep-min), drops
    *                          documents whose content hash is already in
    *                          this persisted registry, and (when
    *                          `registryUpdate`) registers the survivors'
    *                          hashes for the next run — a daily batch
    *                          pipeline calls curate() per day against one
    *                          registry instead of hand-composing the two
    *                          operators. The table must exist
    *                          ([[Dedup.createRegistry]]); single writer
    *                          per registry at a time
    * @param registryUpdate    `false` = report-only: drop against the
    *                          registry but do not append this batch's
    *                          hashes (e.g. dry runs, replays)
    * @param nearIndexTable    when set, a CROSS-RUN near-dedup stage
    *                          ([[Dedup.nearDedupAgainstIndex]]) runs right
    *                          after the within-run dedup stages: documents
    *                          with a MinHash-verified near-dup anywhere in
    *                          the persisted band index are dropped, and the
    *                          survivors' signatures are appended (unless
    *                          `nearIndexUpdate = false`) so the next day's
    *                          curate() sees them — the near-dup complement
    *                          of `registryTable`, same daily-pipeline
    *                          contract. The index must exist
    *                          ([[Dedup.writeMinhashIndex]]); it runs BEFORE
    *                          the span rewrite, so cross-run identity keys
    *                          on the same raw text as the within-run stages
    * @param nearIndexJaccard  MinHash-ESTIMATE threshold for that stage
    *                          (estimator stderr ≈ 1/√numHashes — see
    *                          [[Dedup.nearDupsAgainstIndex]])
    * @param nearIndexUpdate   `false` = report-only for the near index
    * @param semanticIndexTable when set (requires `embCol`), a CROSS-RUN
    *                          semantic stage
    *                          ([[Dedup.semanticDedupAgainstIndex]]) runs
    *                          right after the within-run semantic stage:
    *                          documents whose embedding cosine-matches
    *                          anything in this persisted IVF index
    *                          ([[graft.similarity.Similarity.writeIvfIndex]])
    *                          are dropped, and survivors' vectors are
    *                          appended (unless `semanticIndexUpdate =
    *                          false`) against the same persisted
    *                          centroids — the embedding member of the
    *                          cross-run family, same daily contract as
    *                          `registryTable`/`nearIndexTable`
    * @param semanticIndexThreshold cosine threshold for that stage
    * @param semanticIndexUpdate `false` = report-only for the semantic index
    * @param redactPii         mask emails/IPs/phones ([[TextOps.redactPii]])
    *                          in the surviving text as the LAST stage —
    *                          after dedup and split assignment, which both
    *                          key on the raw content, so redacted and
    *                          unredacted ingestion agree on dedup identity
    *                          and split. Mirrors the streaming intake
    *                          ([[graft.streaming.EventStreams.curateDocs]]),
    *                          which always redacts.
    * @param qualityModel      when set, a MODEL-based quality gate
    *                          ([[graft.text.Classifier.score]]) joins the
    *                          heuristic gate: documents scoring below
    *                          `minModelScore` drop. Row-local broadcast
    *                          pass — same stage position, same cost shape
    * @param minModelScore     P(keep) threshold for that gate
    * @param lmModel           when set, a served bigram-LM gate
    *                          ([[graft.text.LangModel.scoreColumn]]) joins
    *                          the heuristic gate: documents whose
    *                          cross-entropy exceeds `maxCrossEntropy`
    *                          drop (fluent-looking token soup from outside
    *                          the reference distribution). Documents too
    *                          short to have bigrams score null and PASS —
    *                          the gate cannot judge them
    * @param maxCrossEntropy   cross-entropy ceiling for that gate
    * @param knModel           when set, a served interpolated-KN trigram
    *                          gate ([[graft.text.LangModel.scoreKnColumn]])
    *                          composes with (not replaces) the bigram
    *                          gate — the sharper production smoothing.
    *                          Sub-3-token docs score null and PASS
    * @param maxKnCrossEntropy cross-entropy ceiling for the KN gate
    * @param importanceTarget  when set (with `importanceTopN`), DSIR-style
    *                          distribution matching
    *                          ([[graft.text.Importance.resampleTop]]) runs
    *                          on the clean, deduped pool: keep the topN
    *                          documents whose n-gram bag is most
    *                          target-like relative to the pool itself.
    *                          Runs AFTER every dedup/decontamination stage
    *                          (replicas and contaminated docs must not
    *                          distort the raw distribution estimate) and
    *                          BEFORE the per-source quota (the cap bounds
    *                          domination of the SELECTED corpus). The
    *                          surviving rows carry their `log_weight` as
    *                          evidence
    * @param importanceTopN    how many documents that selector keeps
    * @param importanceHashBuckets when set, the selector's hashed
    *                          fixed-dimension feature mode (bounds the
    *                          ratio model at 2^~b rows for any corpus)
    * @param maxPerSource      when set, a per-source quota
    *                          ([[TextOps.sourceQuota]] over `sourceCol`)
    *                          caps each source's documents AFTER every
    *                          dedup/decontamination stage and BEFORE split
    *                          assignment — representation control over the
    *                          corpus that actually ships, so a hot domain's
    *                          surviving documents cannot dominate training
    * @param sourceCol         the domain/source column for that quota
    * @param compactEveryNFiles when set, each curate() call FIRST checks
    *                          the configured cross-run tables (the
    *                          registry; the near index's band and
    *                          signature tables) and runs
    *                          [[graft.sources.Warehouse.compactIfFragmented]]
    *                          on any whose worst bucket has accumulated
    *                          that many part files — closing the daily
    *                          append→fragment→compact ops loop inside the
    *                          pipeline instead of a side cron. Compaction
    *                          runs BEFORE this run's appends, never after:
    *                          the frame curate() returns is derived from
    *                          the append's own delta files, which a
    *                          post-hoc compaction would delete out from
    *                          under it. Same single-writer contract as
    *                          the appends.
    */
  case class Config(
      langs: Set[String] = Set("en"),
      minQuality: Double = 0.5,
      nearDupThreshold: Double = 0.7,
      contaminationNgram: Int = 8,
      maxContamination: Long = 1,
      trainPct: Int = 90,
      valPct: Int = 5,
      spanDedupTokens: Option[Int] = None,
      embCol: Option[String] = None,
      semanticThreshold: Double = 0.9,
      semanticCentroids: Int = 16,
      semanticMaxCell: Int = 10000,
      materialize: Materialize = Materialize.Disk,
      registryTable: Option[String] = None,
      registryUpdate: Boolean = true,
      nearIndexTable: Option[String] = None,
      nearIndexJaccard: Double = 0.7,
      nearIndexUpdate: Boolean = true,
      semanticIndexTable: Option[String] = None,
      semanticIndexThreshold: Double = 0.9,
      semanticIndexUpdate: Boolean = true,
      redactPii: Boolean = false,
      compactEveryNFiles: Option[Int] = None,
      decontaminateSpanTokens: Option[Int] = None,
      qualityModel: Option[graft.text.Classifier.LinearModel] = None,
      minModelScore: Double = 0.5,
      lmModel: Option[graft.text.LangModel.ServedBigramLm] = None,
      maxCrossEntropy: Double = Double.PositiveInfinity,
      knModel: Option[graft.text.LangModel.ServedKnLm] = None,
      maxKnCrossEntropy: Double = Double.PositiveInfinity,
      maxPerSource: Option[Int] = None,
      sourceCol: String = "source",
      importanceTarget: Option[DataFrame] = None,
      importanceTopN: Option[Int] = None,
      importanceHashBuckets: Option[Int] = None,
      dropRepeatedLines: Boolean = false,
      fixEncoding: Boolean = false,
      maxBulletFrac: Double = 1.0,
      maxEllipsisFrac: Double = 1.0,
      substringWindowTokens: Option[Int] = None,
      blockedDomains: Seq[String] = Nil,
      urlCol: String = "url",
      blockedWords: Seq[String] = Nil,
      blockedPhrases: Seq[String] = Nil)

  /** Curate `docs`: returns the surviving rows plus `lang`, `quality`, and
    * `split` columns. `benchmark` (if given) is an eval set whose n-grams
    * must not leak into training data.
    */
  def curate(docs: DataFrame, textCol: String, idCol: String,
             cfg: Config = Config(),
             benchmark: Option[DataFrame] = None): DataFrame =
    curateTapped(docs, textCol, idCol, cfg, benchmark, (_, _) => (),
      keepStages = false)

  /** [[curate]] with a passive per-stage observer: `tap(stageName,
    * survivors)` fires at each DROP stage's output, in pipeline order.
    * The tap never changes dataflow — [[curateAudit]] is the consumer,
    * and it sets `keepStages` because it re-reads every stage's frame
    * after the run.
    */
  private def curateTapped(docs: DataFrame, textCol: String, idCol: String,
                           cfg: Config, benchmark: Option[DataFrame],
                           tap: (String, DataFrame) => Unit,
                           keepStages: Boolean): DataFrame = {
    // config validation FIRST — before the compaction hook and the eager
    // registry/index appends inside the stages: a misconfigured run must
    // fail before it mutates any cross-run state (a batch registered but
    // never emitted would replay as a drop forever)
    require(cfg.semanticIndexTable.isEmpty || cfg.embCol.isDefined,
      "semanticIndexTable requires embCol (the embedding column to probe with)")
    require(cfg.importanceTarget.isEmpty || cfg.importanceTopN.exists(_ > 0),
      "importanceTarget requires importanceTopN > 0 (how many docs to keep)")
    // ops hook: de-fragment the cross-run tables BEFORE this run touches
    // them (see Config.compactEveryNFiles for why never after)
    cfg.compactEveryNFiles.foreach { maxFiles =>
      val spark = docs.sparkSession
      val tables = cfg.registryTable.toSeq ++
        cfg.nearIndexTable.toSeq.flatMap(t => Seq(t, s"${t}_sigs")) ++
        cfg.semanticIndexTable.toSeq
      tables.foreach(t =>
        graft.sources.Warehouse.compactIfFragmented(spark, t, maxFiles))
    }
    // encoding canonicalization FIRST of all (L96): mojibake repair/NFC
    // changes the bytes every identity downstream keys on — the same
    // page crawled once clean and once mis-decoded must hash identically
    val encFixed =
      if (!cfg.fixEncoding) docs
      else docs.withColumn(textCol, TextOps.fixText(col(textCol)))
    // C4-style per-page line cleanup next: every identity downstream —
    // content hashes, signatures, split assignment — keys on the CLEANED
    // text, so a page refetched with one more repeated footer line still
    // dedups against its original
    val lineCleaned =
      if (!cfg.dropRepeatedLines) encFixed
      else encFixed.withColumn(textCol, TextOps.dropRepeatedLines(col(textCol)))
    val heuristicGated = lineCleaned
      .withColumn("__lq", TextOps.langQuality(col(textCol)))
      .withColumn("lang", col("__lq._1"))
      .withColumn("quality", col("__lq._2"))
      .drop("__lq")
      .filter(col("lang").isin(cfg.langs.toSeq: _*) &&
        col("quality") >= cfg.minQuality)
    tap("lang_quality", heuristicGated)
    // model-based gates ride the same row-local stage: broadcast passes,
    // no shuffle, run on the heuristic survivors (cheapest filter first)
    val classifierGated = cfg.qualityModel match {
      case None => heuristicGated
      case Some(m) => heuristicGated.filter(
        graft.text.Classifier.score(docs.sparkSession, m, col(textCol)) >=
          cfg.minModelScore)
    }
    tap("classifier", classifierGated)
    val biScored = cfg.lmModel match {
      case None => classifierGated
      case Some(lm) =>
        val ce = graft.text.LangModel.scoreColumn(docs.sparkSession, lm, col(textCol))
        // null = too short to judge → pass (the gate has no evidence)
        classifierGated.filter(ce.isNull || ce <= cfg.maxCrossEntropy)
    }
    tap("lm_perplexity", biScored)
    // the KN tier composes with (not replaces) the bigram gate: a cheap
    // Laplace prefilter and a sharper KN ceiling can run in one pass
    val scored = cfg.knModel match {
      case None => biScored
      case Some(kn) =>
        val ce = graft.text.LangModel.scoreKnColumn(docs.sparkSession, kn, col(textCol))
        biScored.filter(ce.isNull || ce <= cfg.maxKnCrossEntropy)
    }
    tap("kn_perplexity", scored)
    // blocklist gates (L83/L83b/L85): domain suffix test (row-local on
    // the in-config list — no join), word intersect, phrase automaton —
    // all before any dedup shuffle touches rows a list would have
    // dropped. Null/hostless URLs keep (corrupt-survives), per the
    // standalone operators' contracts.
    val domainGated =
      if (cfg.blockedDomains.isEmpty) scored
      else scored.filter(
        !TextOps.blockedDomainHit(cfg.urlCol, cfg.blockedDomains))
    tap("blocked_domain", domainGated)
    val wordGated =
      if (cfg.blockedWords.isEmpty) domainGated
      else domainGated.filter(
        TextOps.blockedWordCount(col(textCol), cfg.blockedWords) === 0)
    tap("blocked_word", wordGated)
    val phraseGated =
      if (cfg.blockedPhrases.isEmpty) wordGated
      else {
        import docs.sparkSession.implicits._
        graft.text.Phrases.filterBlockedPhrases(wordGated, textCol,
          cfg.blockedPhrases.toDF("phrase"))
      }
    tap("blocked_phrase", phraseGated)
    // Gopher line-shape caps (bullet/ellipsis fractions) — row-local like
    // the other gates; null fractions (no non-blank lines) carry no
    // evidence and pass
    val lineGated =
      if (cfg.maxBulletFrac >= 1.0 && cfg.maxEllipsisFrac >= 1.0) phraseGated
      else {
        val ls = TextOps.lineStats(col(textCol))
        phraseGated.filter(
          (ls.getField("frac_bullet").isNull ||
            ls.getField("frac_bullet") <= cfg.maxBulletFrac) &&
            (ls.getField("frac_ellipsis").isNull ||
              ls.getField("frac_ellipsis") <= cfg.maxEllipsisFrac))
      }

    tap("line_shape", lineGated)

    // Applied only where a stage genuinely fans out into multiple
    // downstream reads; see Materialize for the policy tradeoffs. Every
    // stage reads only the nearest cut upstream of it, so once a
    // lineage-truncating cut is written the previous one backs nothing
    // curate returns and is released (under Reliable the dir then holds
    // only the returned frame's files). A Disk copy is lazy — the next
    // copy still reads it at the caller's action — so it is left to the
    // ContextCleaner.
    val releaseSuperseded =
      !keepStages && cfg.materialize.isInstanceOf[Checkpointing]
    var lastCut: Option[Materialize.Cut] = None
    def materialize(df: DataFrame, branches: Int): DataFrame =
      if (branches <= 1) df
      else {
        val c = cfg.materialize.cut(df, "curate-spill")
        if (releaseSuperseded) lastCut.foreach(_.release())
        lastCut = Some(c)
        c.df
      }

    val nearDedupOn = cfg.nearDupThreshold <= 1.0
    val nearIndexOn = cfg.nearIndexTable.isDefined
    val spanOn = cfg.spanDedupTokens.isDefined
    val substrOn = cfg.substringWindowTokens.isDefined
    val semanticOn = cfg.embCol.isDefined
    // each stage's survivor set is materialized by how many downstream
    // reads actually fan out of it: near-dedup reads its input 3×; the
    // span stage (the span pipeline + the column join-back), the semantic
    // stage (centroid training/assignment + the anti-join base), and
    // contamination (the gram count + the anti-join base) each read the
    // NEAREST enabled consumer's input 2+× — so a set flowing into any
    // enabled double-reader fans out 2, else 1
    def fanOut(doubleReaderEnabled: Boolean*): Int =
      if (doubleReaderEnabled.exists(identity)) 2 else 1
    // the near-index stage reads ITS input 3× (signature pass, the fresh
    // anti-join inside the sigs append, the delta semi-join), so it counts
    // toward the nearest upstream stage's fan-out like any double-reader
    val exactBranches =
      if (nearDedupOn) 3
      else fanOut(nearIndexOn, spanOn, substrOn, semanticOn, benchmark.isDefined)
    // with a registry the stage is cross-run: within-batch keep-min plus
    // the registry anti-join (and append) — note the append job inside
    // dedupAgainstRegistry executes EAGERLY, so by the time this curate()
    // returns, the next run's curate() already sees this batch's hashes
    val exactStage = cfg.registryTable match {
      case None => Dedup.exact(lineGated, textCol, idCol)
      case Some(t) =>
        Dedup.dedupAgainstRegistry(lineGated, textCol, idCol, t, cfg.registryUpdate)
    }
    val exact = materialize(exactStage, exactBranches)

    tap("exact_dup", exact)

    val withinRun =
      if (!nearDedupOn) exact
      else materialize(Dedup.nearDedup(exact, textCol, idCol, cfg.nearDupThreshold),
        fanOut(nearIndexOn, spanOn, substrOn, semanticOn, benchmark.isDefined))

    tap("near_dup", withinRun)

    // cross-run near-dedup on the WITHIN-RUN survivors (cheapest input for
    // the signature pass), before the span rewrite so cross-run identity
    // keys on the same raw text as the stages above; the append inside
    // executes eagerly, like the registry stage's
    val deduped = cfg.nearIndexTable match {
      case None => withinRun
      case Some(t) =>
        materialize(Dedup.nearDedupAgainstIndex(withinRun, textCol, idCol, t,
          cfg.nearIndexJaccard, cfg.nearIndexUpdate),
          fanOut(spanOn, substrOn, semanticOn, benchmark.isDefined))
    }

    tap("near_index", deduped)

    val spanned = cfg.spanDedupTokens match {
      case None => deduped
      case Some(k) =>
        // rewrite the text from surviving spans, keeping every other
        // column; documents consumed entirely drop out via the inner join
        val sd = Dedup.dedupSpans(deduped, textCol, idCol, k)
          .select(col(idCol), col("dedup_text"))
        materialize(
          deduped.drop(textCol).join(sd, Seq(idCol))
            .withColumnRenamed("dedup_text", textCol),
          fanOut(substrOn, semanticOn, benchmark.isDefined))
    }

    tap("span_consumed", spanned)

    // sliding-window substring dedup (the Lee-et-al. tier) — the same
    // text-REWRITE shape as the span stage, catching the misaligned
    // repeats the span grid misses; later stages key on the rewritten text
    val substringed = cfg.substringWindowTokens match {
      case None => spanned
      case Some(lw) =>
        val sd = Dedup.dedupSubstrings(spanned, textCol, idCol, lw)
          .select(col(idCol), col("dedup_text"))
        materialize(
          spanned.drop(textCol).join(sd, Seq(idCol))
            .withColumnRenamed("dedup_text", textCol),
          fanOut(semanticOn, benchmark.isDefined))
    }

    tap("substring_consumed", substringed)

    // embedding near-copies collapse to their min-id representative; keys
    // on idCol only, so the drop composes with the stages around it. Runs
    // AFTER the text-keyed dedups (cheaper stages shrink the clustering
    // input) and BEFORE contamination (same reason contamination runs on
    // the smallest set). Its input is read by centroid training, the
    // assignment pass, and the anti-join base, hence the fan-out above.
    val semanticIndexOn = cfg.semanticIndexTable.isDefined
    val semantic = cfg.embCol match {
      case None => substringed
      case Some(e) =>
        // the cross-run stage reads ITS input 3× (probe assignment, the
        // anti-join base, the append input), so it counts as a
        // double-reader for this stage's materialization
        materialize(
          Dedup.semanticDedup(substringed, idCol, e, cfg.semanticThreshold,
            cfg.semanticCentroids, lloydIters = 1, cfg.semanticMaxCell),
          fanOut(semanticIndexOn, benchmark.isDefined))
    }

    tap("semantic_dup", semantic)

    // cross-run semantic dedup on the within-run survivors — the
    // embedding twin of the nearIndexTable stage (probe is eager and
    // checkpointed before the append; see semanticDedupAgainstIndex)
    val crossSemantic = (cfg.semanticIndexTable, cfg.embCol) match {
      case (Some(t), Some(e)) =>
        materialize(
          Dedup.semanticDedupAgainstIndex(semantic, idCol, e, t,
            cfg.semanticIndexThreshold, cfg.semanticIndexUpdate),
          fanOut(benchmark.isDefined))
      case _ => semantic
    }

    tap("semantic_index", crossSemantic)

    val decontaminated = (benchmark, cfg.decontaminateSpanTokens) match {
      case (None, _) => crossSemantic
      case (Some(b), None) =>
        // doc-level gate: any document sharing >= maxContamination
        // benchmark n-grams drops entirely
        val dirty = Dedup.contamination(crossSemantic, b, textCol, idCol,
            cfg.contaminationNgram)
          .filter(col("n_shared") >= cfg.maxContamination)
          .select(col(idCol))
        crossSemantic.join(dirty, Seq(idCol), "left_anti")
      case (Some(b), Some(st)) =>
        // span-surgical: cut only the spans a benchmark gram overlaps and
        // keep the clean remainder (the text REWRITE shape of the span
        // stage above — documents cut entirely drop via the inner join).
        // Runs at the same position as the doc gate: on the smallest set,
        // after every dedup, so the rewritten text can't change any dedup
        // verdict upstream of it
        val cleaned = Dedup.decontaminateSpans(crossSemantic, b, textCol,
            idCol, st, cfg.contaminationNgram)
          .select(col(idCol), col("clean_text"))
        crossSemantic.drop(textCol).join(cleaned, Seq(idCol))
          .withColumnRenamed("clean_text", textCol)
    }

    tap("contaminated", decontaminated)

    // distribution matching (DSIR): select the topN most target-like
    // documents from the clean pool. Reads its input 3× (the raw-side
    // ratio model, the scoring pass, the evidence join-back), hence the
    // materialization; placement per Config.importanceTarget's contract
    val selected = cfg.importanceTarget match {
      case None => decontaminated
      case Some(tgt) =>
        val pool = materialize(decontaminated, 3)
        val top = graft.text.Importance.resampleTop(pool, tgt, textCol,
            idCol, cfg.importanceTopN.get, cfg.importanceHashBuckets)
          .select(col(idCol), col("log_weight"))
        pool.join(top, Seq(idCol))
    }

    tap("importance", selected)

    // representation control over the corpus that actually ships: the
    // per-source cap runs after every dedup/decontamination stage (so the
    // quota counts distinct, clean survivors) and before split assignment
    val quotaed = cfg.maxPerSource match {
      case None => selected
      case Some(n) =>
        TextOps.sourceQuota(selected, cfg.sourceCol, idCol, n)
    }

    tap("quota", quotaed)

    val split = quotaed.withColumn("split",
      TextOps.splitAssign(col(textCol), cfg.trainPct, cfg.valPct))
    if (cfg.redactPii) split.withColumn(textCol, TextOps.redactPii(col(textCol)))
    else split
  }

  /** Per-document drop ATTRIBUTION for a [[curate]] run — the audit
    * report a pipeline owner reads when "why did my corpus shrink 40%"
    * needs an answer per stage, not a guess: every input id labeled with
    * the FIRST stage that dropped it (`lang_quality`, `exact_dup`,
    * `near_dup`, `contaminated`, `quota`, …) or `kept`. Honesty by
    * construction: `kept` comes from the REAL curate output (same
    * config, same eager registry semantics), stage labels come from the
    * stages' own survivor frames observed in flight (the passive tap —
    * zero logic duplication, so the audit can never drift from the
    * pipeline it explains), and any drop no tapped stage explains is
    * labeled `dropped_other` instead of silently mislabeled (text
    * REWRITE stages can only drop via their inner joins, which ARE
    * tapped, so the catch-all is expected empty). Disabled stages pass
    * their input through by reference and are skipped (no recompute, no
    * join). Diagnostics mode, not the shipping path: attribution
    * re-reads each enabled stage's output once more than curate itself
    * would — `Config.materialize` bounds the recompute exactly as it
    * does for curate's own fan-outs.
    */
  def curateAudit(docs: DataFrame, textCol: String, idCol: String,
                  cfg: Config = Config(),
                  benchmark: Option[DataFrame] = None): DataFrame = {
    val stages = scala.collection.mutable.ArrayBuffer[(String, DataFrame)]()
    var last: DataFrame = docs
    val out = curateTapped(docs, textCol, idCol, cfg, benchmark,
      (name, df) => {
        if (!(df eq last)) stages += name -> df
        last = df
      }, keepStages = true)
    val kept = out.select(col(idCol)).withColumn("__kept", lit(true))
    var acc = docs.select(col(idCol))
      .withColumn("verdict", lit(null).cast("string"))
    for (((name, ids), i) <- stages.zipWithIndex) {
      val s = ids.select(col(idCol)).withColumn(s"__s$i", lit(true))
      acc = acc.join(s, Seq(idCol), "left")
        .withColumn("verdict",
          coalesce(col("verdict"), when(col(s"__s$i").isNull, lit(name))))
        .drop(s"__s$i")
    }
    acc.join(kept, Seq(idCol), "left")
      .withColumn("verdict", coalesce(col("verdict"),
        when(col("__kept").isNotNull, lit("kept"))
          .otherwise(lit("dropped_other"))))
      .drop("__kept")
  }

  /** ONE-CALL training prep — the whole tail a run actually ships:
    * [[curate]] → (optionally) window-cut long documents
    * ([[TextOps.chunkDocs]]) → deterministically SHUFFLED token-budget
    * shards ([[TextOps.shuffledShards]] — the epoch layout) → ATOMIC
    * versioned publish ([[graft.sources.Warehouse.publishShards]]).
    * Returns the committed version directory; a crashed run leaves no
    * visible snapshot (the publish contract).
    *
    * TRAIN split only: val/test survivors are deliberately NOT shipped
    * into training shards — publish them separately for eval. Chunked
    * units carry `unit_id = "<doc id>#<chunk id>"` so provenance
    * survives into the shards. Every stage is the already-gated
    * operator — this function adds ordering and column plumbing, no new
    * semantics (spec pins the composition end-to-end).
    */
  def prepareTraining(docs: DataFrame, textCol: String, idCol: String,
                      publishRoot: String,
                      cfg: Config = Config(),
                      benchmark: Option[DataFrame] = None,
                      chunkTokens: Int = 0, chunkOverlap: Int = 0,
                      shardTokens: Long = 1L << 20,
                      seed: String = "0",
                      format: String = "parquet"): String = {
    val train = curate(docs, textCol, idCol, cfg, benchmark)
      .filter(col("split") === "train")
    val units =
      if (chunkTokens <= 0)
        train.select(col(idCol).cast("string").as("unit_id"),
          col(textCol).as("unit_text"))
      else
        TextOps.chunkDocs(train, textCol, idCol, chunkTokens, chunkOverlap)
          .select(concat(col(idCol).cast("string"), lit("#"),
            col("chunk_id")).as("unit_id"),
            col("chunk_text").as("unit_text"))
    val sharded = TextOps.shuffledShards(units, "unit_text", "unit_id",
      shardTokens, seed)
    graft.sources.Warehouse.publishShards(sharded, publishRoot,
      format = format)
  }
}
