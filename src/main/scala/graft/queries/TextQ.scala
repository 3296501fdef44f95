package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.text.{Bpe, Classifier, Html, Importance, LangModel, Search, TextOps, Unigram}

/** Text-analysis queries over documents. Everything except t04 (wrapping
  * rolling hash) is oracle-checked — t01's oracle is generated from the
  * same stopword lists, t10/t11 cover the repetition-quality and
  * PII-redaction passes a corpus runs before training.
  */
object TextQ {

  // one export per (exportRoot, sfDir) per JVM: Bench calls the query
  // lambda four times per recording and the subprocess isn't free
  private val t35Exported =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()

  /** t35's oracle export: the EXPECTED compression ratios, computed by
    * CPython's zlib (raw deflate, level 6 — the identical parameters the
    * Spark UDF hands java.util.zip.Deflater, but an independent
    * implementation reached through an independent runtime), written as
    * one parquet file under the oracle export root. DuckDB itself has no
    * deflate scalar and the driver's comparator registers no UDFs, so
    * this is the only shape in which the driver can hash-gate a codec
    * output; the rounding mirrors the JVM exactly
    * (BigDecimal.setScale(4, HALF_UP) == Decimal.quantize(1e-4,
    * ROUND_HALF_UP) on the double's shortest decimal rendering — the
    * established check.py zratio formula, value-exact across both
    * runtimes on every corpus gated since round 13).
    *
    * If python3/duckdb are unavailable (not the driver environment, but
    * a user's cluster may differ) the export falls back to the JVM
    * Deflater — the gate then degrades from independent-implementation
    * to replay (still catching every regression outside the codec call
    * itself) and says so on stderr.
    */
  private def exportT35Expected(s: SparkSession, dir: String): Unit = {
    val root = OracleHashLib.exportRoot
    if (!t35Exported.add((root, dir))) return
    val outFile = new java.io.File(root, "t35_expected.parquet")
    new java.io.File(root).mkdirs()
    val py =
      """import duckdb, zlib, sys
        |from decimal import Decimal, ROUND_HALF_UP
        |src, out = sys.argv[1], sys.argv[2]
        |con = duckdb.connect()
        |def zratio(t):
        |    if t is None or t == "":
        |        return None
        |    raw = t.encode("utf-8")
        |    c = zlib.compressobj(6, zlib.DEFLATED, -15)
        |    n = len(c.compress(raw)) + len(c.flush())
        |    return float(Decimal(n / len(raw)).quantize(
        |        Decimal("0.0001"), rounding=ROUND_HALF_UP))
        |con.create_function("zratio", zratio, ["VARCHAR"], "DOUBLE",
        |                    null_handling="special")
        |con.sql(f"COPY (SELECT doc_id, zratio(text) AS compression_ratio "
        |        f"FROM '{src}/documents.parquet' ORDER BY doc_id) "
        |        f"TO '{out}' (FORMAT PARQUET)")
        |""".stripMargin
    val ok =
      try {
        val p = new ProcessBuilder("python3", "-c", py,
          dir, outFile.getPath).inheritIO().start()
        p.waitFor() == 0 && outFile.isFile
      } catch { case _: java.io.IOException => false }
    if (!ok) {
      System.err.println("[t35-export] python3/duckdb unavailable — " +
        "falling back to the JVM Deflater (gate degrades from " +
        "independent-implementation to replay)")
      val tmp = new java.io.File(root, "t35_expected_tmp")
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          graft.text.TextOps.compressionRatio(col("text"))
            .as("compression_ratio"))
        .coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(
          s"t35 fallback export produced no parquet part in $tmp"))
      java.nio.file.Files.move(part.toPath, outFile.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      tmp.listFiles().foreach(_.delete()); tmp.delete()
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // L9: language ID (stopword vote + CJK ratio). Rows-only.
    "t01_langid" -> { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), TextOps.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    },

    // L10: quality scoring.
    "t02_quality" -> { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).as("n_tokens"),
          TextOps.qualityScore(col("text")).as("quality"),
          TextOps.meanTokenLen(col("text")).as("mean_tok_len"))
        .orderBy("doc_id")
    },

    // L11: token counting (whitespace + BPE-ish regex).
    "t03_tokens" -> { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).as("n_ws_tokens"),
          TextOps.bpeTokenCount(col("text")).cast("int").as("n_bpe_tokens"),
          length(col("text")).as("n_chars_calc"))
        .orderBy("doc_id")
    },

    // A24: string function suite (case, substring, replace, levenshtein).
    "t05_string_ops" -> { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          upper(substring(col("text"), 1, 12)).as("head_upper"),
          length(regexp_replace(col("text"), "a", "")).as("len_no_a"),
          levenshtein(substring(col("text"), 1, 15), col("source")).as("lev_src"),
          concat_ws("|", col("source"), col("lang")).as("src_lang"))
        .orderBy("doc_id")
    },

    // A25: explode/unnest — global token frequencies, top 50.
    "t06_token_freq" -> { (s, dir) =>
      Tables(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(50)
    },

    // L12: rolling-hash fingerprint. Rows-only (spec-verified semantics).
    "t04_fingerprint" -> { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp64"))
        .orderBy("doc_id")
    },

    // L18: deterministic content-hash train/val/test split.
    "t07_split" -> { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), TextOps.splitAssign(col("text")).as("split"))
        .orderBy("doc_id")
    },

    // L19: sequence packing — concatenate each source's docs in id order,
    // cut into 4096-token context windows, report per-bin stats.
    "t08_packing" -> { (s, dir) =>
      TextOps.packBins(Tables(s, dir, "documents"), "source", "doc_id", "text", 4096)
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("__toks")).as("bin_tokens"))
        .orderBy("source", "bin")
    },

    // L21: weighted corpus mixing — even-length sources upsampled 2.3×,
    // odd-length downsampled to 40%, deterministically.
    "t09_mixing" -> { (s, dir) =>
      val weight = when(length(col("source")) % 2 === 0, lit(2.3)).otherwise(lit(0.4))
      TextOps.mixCorpus(Tables(s, dir, "documents"), weight, "text")
        .select(col("doc_id"), col("copy"))
        .orderBy("doc_id", "copy")
    },

    // L59: repeated-line removal — the corpus has single-line texts, so
    // (the t11 salting precedent) each doc is wrapped with a repeated
    // footer, a unique middle line, and blank separators; the op must
    // drop only the repeated footer occurrences and keep the blanks.
    "t23_dedup_lines" -> { (s, dir) =>
      val salted = Tables(s, dir, "documents")
        .withColumn("ml_text", concat(
          lit("footer nav line\n"), col("text"),
          lit("\n\nmid "), pmod(col("doc_id"), lit(7)).cast("string"),
          lit("\nfooter nav line\n\nfooter nav line")))
      salted.select(col("doc_id"),
          TextOps.dropRepeatedLines(col("ml_text")).as("clean"))
        .orderBy("doc_id")
    },

    // L60: HTML→text extraction — the corpus has plain text, so (the t11
    // salting precedent) each doc is wrapped into a full deterministic
    // HTML page: comment, head with entity-bearing title + style + a
    // script containing tag-looking strings, block structure, entities
    // incl. a double-encoded &amp;lt; that must decode exactly once.
    "t24_html_text" -> { (s, dir) =>
      val id = col("doc_id").cast("string")
      val metaOpt = when(col("doc_id") % 5 === 0, lit(HtmlSalt.robotsMeta))
        .otherwise(lit(""))
      val page = concat(
        lit(HtmlSalt.p0), id, lit(HtmlSalt.p1a), metaOpt,
        lit(HtmlSalt.p1b), id, lit(HtmlSalt.p2), id,
        lit(HtmlSalt.p3), col("text"), lit(HtmlSalt.p4), id,
        lit(HtmlSalt.p5))
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          Html.htmlTitle(page).as("title"),
          Html.htmlToText(page).as("clean"),
          Html.htmlNoindex(page).as("noindex"))
        .orderBy("doc_id")
    },

    // L58: temperature-rebalanced mixing — T=2 source weights (q ∝ p^0.5,
    // expected size preserved) broadcast into the deterministic mixer, so
    // low-volume sources upsample and the hot source downsamples.
    "t22_temperature_mix" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val w = TextOps.temperatureWeights(docs, "source", 2.0)
      TextOps.mixCorpus(docs.join(broadcast(w), "source"), col("weight"), "text")
        .select(col("doc_id"), col("copy"), col("weight"))
        .orderBy("doc_id", "copy")
    },

    // L10b: Gopher-style repetition + symbol-density quality filters.
    "t10_repetition" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      TextOps.repetitionStats(docs, "text", "doc_id")
        .join(docs.select(col("doc_id"),
          round(TextOps.symbolRatio(col("text")), 4).as("symbol_ratio")), "doc_id")
        .orderBy("doc_id")
    },

    // L24: corpus-frequency rare-token profile (min corpus freq among the
    // doc's tokens, hapax count/fraction) — quality filtering against the
    // corpus itself, no model needed.
    "t12_rare_tokens" -> { (s, dir) =>
      TextOps.rareTokenStats(Tables(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id")
    },

    // L43: bigram-LM cross-entropy (CCNet-style quality signal) — model
    // trained on the corpus itself here (self-perplexity); a real pipeline
    // trains on a trusted reference slice and scores the crawl.
    "t13_lm_perplexity" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val lm = LangModel.trainBigramLm(docs, "text")
      LangModel.crossEntropy(docs, "text", "doc_id", lm).orderBy("doc_id")
    },

    // L43b: interpolated Kneser–Ney trigram cross-entropy — the smoothing
    // the production CCNet/KenLM gates ship, over the same self-trained
    // construction as t13. The whole probability ladder (trigram →
    // continuation-bigram → continuation-unigram → uniform OOV floor) is
    // replayed term-for-term in the DuckDB oracle.
    "t30_kn_perplexity" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val lm = LangModel.trainKnTrigramLm(docs, "text")
      LangModel.knCrossEntropy(docs, "text", "doc_id", lm).orderBy("doc_id")
    },

    // L44: hashed-ngram linear quality classifier. The synthetic corpus
    // has no quality signal, so (the t11 salting precedent) every third
    // doc gets a deterministic junk-token suffix — the classifier must
    // learn the planted vocabulary from the even-id half and recover the
    // label on the held-out odd-id half. Rows-only: the verdict depends
    // on iteratively trained weights (the s03 inexpressibility argument).
    "t14_quality_classifier" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
        .withColumn("qtext",
          when(col("doc_id") % 3 === 0,
            concat(col("text"),
              lit(" winner free prize claim click bonus offer cash urgent deal")))
            .otherwise(col("text")))
        .withColumn("label", (col("doc_id") % 3 === 0).cast("double"))
      val model = Classifier.train(docs.filter(col("doc_id") % 2 === 0),
        "qtext", "label", bits = 16, iters = 20)
      // export the trained weights for the DuckDB oracle: training stays
      // Spark-side state (spec-gated), but the hashed-feature re-score is
      // plain SQL once the weights are data the oracle can read
      locally {
        import s.implicits._
        (model.weights.zipWithIndex.collect {
          case (w, i) if w != 0.0 => (i, w)
        }.toSeq :+ (-1, model.bias))
          .toDF("idx", "weight").coalesce(1).write.mode("overwrite")
          .parquet(OracleHashLib.T14ModelExport)
      }
      docs.select(col("doc_id"),
          (Classifier.score(s, model, col("qtext")) > 0.5).cast("int").as("pred"))
        .orderBy("doc_id")
    },

    // L49: DSIR-style importance weights — ids < 25 act as the trusted
    // TARGET slice, the rest of the corpus is the RAW pool being scored
    // (exact-gram mode; the hashed mode is spec-gated). The top-N selector
    // is a deterministic ORDER BY of these weights, so gating the weights
    // gates the selection.
    "t17_importance" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val raw = docs.filter(col("doc_id") >= 25)
      val model = Importance.trainImportanceModel(
        raw, docs.filter(col("doc_id") < 25), "text")
      Importance.importanceWeights(raw, "text", "doc_id", model)
        .orderBy("doc_id")
    },

    // L56: corpus diff — "old" is the corpus below id 400, "new" drops
    // every 7th doc (curation removals), rewrites every 5th non-dropped
    // doc's text (span surgery), and adds ids 400+ — so all four statuses
    // appear and the oracle replays the same construction.
    "t21_corpus_diff" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents").select("doc_id", "text")
      val old = docs.filter(col("doc_id") < 400)
      val neu = docs
        .filter(col("doc_id") % 7 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" [redacted]")))
            .otherwise(col("text")))
      TextOps.corpusDiff(old, neu, "text", "doc_id")
        .orderBy("doc_id")
    },

    // L53: canonical-URL dedup — the synthetic corpus has no URL column,
    // so (the t11 salting precedent) each doc gets a deterministic URL:
    // three scheme/www/port/tracking/fragment/case variants per site
    // (site = doc_id div 3), so every 3-doc group collapses to its
    // smallest id once normalized and the oracle replays the same salt.
    "t20_url_dedup" -> { (s, dir) =>
      val url = expr("""CASE cast(doc_id % 3 as int)
        WHEN 0 THEN concat('https://www.site', cast(doc_id div 3 as string),
          '.com/path/p?utm_source=x&id=', cast(doc_id div 3 as string))
        WHEN 1 THEN concat('http://site', cast(doc_id div 3 as string),
          '.com:80/path/p?id=', cast(doc_id div 3 as string), '&utm_campaign=y#frag')
        ELSE concat('HTTPS://site', cast(doc_id div 3 as string),
          '.COM/path/p?id=', cast(doc_id div 3 as string))
        END""")
      val normed = Tables(s, dir, "documents")
        .select(col("doc_id"), url.as("url"))
        .withColumn("url_norm", TextOps.normalizeUrl(col("url")))
      graft.dedup.Dedup.exact(normed, "url_norm", "doc_id")
        .select(col("doc_id"), col("url_norm"))
        .orderBy("doc_id")
    },

    // L51: trained-BPE token counts — merges learned from the corpus's
    // own word histogram (ids < 100 as the training slice), every doc
    // encoded under the broadcast rank table. Rows-only: the greedy
    // rank-ordered merge closure is iterative string rewriting DuckDB
    // can't express (the s03/t14 argument); merge selection and encoding
    // are hand-verified in specs. Non-vacuous: n_bpe varies per doc and
    // shrinks as merges apply (spec-pinned).
    "t19_bpe_tokens" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val model = Bpe.train(docs.filter(col("doc_id") < 100), "text",
        numMerges = 200)
      // export the learned merges for the DuckDB oracle: training is
      // Spark-side greedy-closure state (spec-gated), but greedy ENCODE
      // against a given merge table is expressible in SQL (t14's
      // export-the-state, verify-the-application pattern)
      locally {
        import s.implicits._
        model.merges.zipWithIndex
          .map { case ((a, b), i) => (i, a, b) }
          .toDF("rank", "a", "b").coalesce(1).write.mode("overwrite")
          .parquet(OracleHashLib.T19MergesExport)
      }
      docs.select(col("doc_id"),
          Bpe.tokenCount(s, model, col("text")).as("n_bpe"))
        .orderBy("doc_id")
    },

    // L99: unigram-LM (SentencePiece-family) tokenizer — pieces learned by
    // Viterbi hard-EM over the corpus's word histogram (same doc_id < 100
    // training slice as t19), every doc encoded row-local under the
    // broadcast scored vocabulary. Integer micro-nat scores make the
    // Viterbi argmax engine-exact, so BOTH the piece count and the total
    // log-likelihood gate against the DuckDB unrolled-DP oracle. Training
    // itself stays Spark-side state (spec-gated, the t14/t19 export-the-
    // state pattern). maxPieceLen 3 against 3-8 char words forces real
    // multi-piece segmentations (non-vacuous: n_uni varies per doc and
    // exceeds the whitespace token count).
    "t50_unigram_tokens" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val model = Unigram.train(docs.filter(col("doc_id") < 100), "text",
        vocabSize = 40, maxPieceLen = 3, emIters = 3)
      locally {
        import s.implicits._
        (model.pieces.map { case (p, sc) => (p, sc, "piece") }
          :+ (("", model.unkScore, "unk")))
          .toDF("piece", "score", "kind").coalesce(1).write.mode("overwrite")
          .parquet(OracleHashLib.T50VocabExport)
      }
      docs
        .select(col("doc_id"),
          Unigram.encodeDetail(s, model, col("text")).as("e"))
        .select(col("doc_id"), col("e.n").as("n_uni"),
          col("e.score").as("uscore_micro"))
        .orderBy("doc_id")
    },

    // L99b: tokenizer OOV-coverage report — the monitoring face of t50:
    // per source, how much of the incoming stream the trained vocabulary
    // actually covers (total pieces, <unk> pieces, integral ppm). The
    // operational question this answers at 100 TB: "is this crawl slice
    // drifting outside my tokenizer's alphabet" BEFORE a training run
    // burns budget on <unk> soup. Probe text is salted with digit-bearing
    // tokens (digits are outside the training alphabet) so the <unk> path
    // is exercised deterministically; the salt expression is single-
    // sourced against the oracle (OracleHashLib.t51SaltSqlExpr). One
    // corpus scan, row-local encode, one partial-agg shuffle on source.
    "t51_oov_by_source" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val model = Unigram.train(docs.filter(col("doc_id") < 100), "text",
        vocabSize = 40, maxPieceLen = 3, emIters = 3)
      locally {
        import s.implicits._
        (model.pieces.map { case (p, sc) => (p, sc, "piece") }
          :+ (("", model.unkScore, "unk")))
          .toDF("piece", "score", "kind").coalesce(1).write.mode("overwrite")
          .parquet(OracleHashLib.T51VocabExport)
      }
      val salted = docs.withColumn("qtext", expr(OracleHashLib.t51SaltSqlExpr))
      Unigram.oovReport(s, salted, "qtext", "source", model)
        .orderBy("source")
    },

    // L101: mixed-language document segmentation — per-line langId votes
    // merged into contiguous same-language segments, the multilingual-
    // crawl splitter. Probe text is the single-sourced t53 salt (own text
    // + a Spanish line + own text + a German line on even ids) so votes
    // AND boundaries are exercised deterministically; the whole chain
    // (per-line vote, lag break, running-sum segment ids, per-segment
    // agg) replays in the oracle from the SAME vote SQL as t01.
    "t53_lang_segments" -> { (s, dir) =>
      val salted = Tables(s, dir, "documents")
        .withColumn("qtext", expr(OracleHashLib.t53SaltSqlExpr))
      TextOps.langSegments(salted, "qtext", "doc_id")
        .orderBy("doc_id", "seg_id")
    },

    // L103: one-row corpus health snapshot — doc/null/token counters,
    // source/language cardinalities, mean tokens, and the
    // language-distribution Shannon entropy (ROUND-4 nats).
    "t55_corpus_health" -> { (s, dir) =>
      TextOps.corpusHealth(Tables(s, dir, "documents"), "text", "lang",
        "source")
    },

    // L101b: per-document language purity over the t53 multilingual salt
    // — dominant per-line language, line counts, integral-ppm purity:
    // the threshold signal a curation gate reads instead of trusting the
    // whole-document vote on mixed pages.
    "t54_lang_purity" -> { (s, dir) =>
      val salted = Tables(s, dir, "documents")
        .withColumn("qtext", expr(OracleHashLib.t53SaltSqlExpr))
      TextOps.langPurity(salted, "qtext", "doc_id")
        .orderBy("doc_id")
    },

    // L100: deterministic stratified sampling — 5 docs per source by
    // hash order (key64(doc_id), doc_id): the balanced eval-carve-out /
    // per-stratum inspection op, engine-replayable because the sample is
    // a pure function of the ids. WindowGroupLimit keeps the shuffle at
    // O(tasks·n) rows per group (plan-guarded).
    "t52_stratified_sample" -> { (s, dir) =>
      TextOps.stratifiedSample(Tables(s, dir, "documents"), "source",
          "doc_id", n = 5)
        .select(col("source"), col("doc_id"), col("sample_rank"))
        .orderBy("source", "sample_rank")
    },

    // L50: global token-budget sharding — the training-data writer's
    // layout step. 2048-token shards over the id-ordered corpus; the
    // distributed prefix-sum must reproduce the naive global window.
    "t18_token_shards" -> { (s, dir) =>
      TextOps.shardByTokenBudget(Tables(s, dir, "documents"), "text",
          "doc_id", shardTokens = 2048)
        .select(col("doc_id"), col("n_tokens"), col("shard"))
        .orderBy("doc_id")
    },

    // L70: outlink extraction + URL resolution — the crawl-frontier feed.
    // Salted page per doc: absolute, scheme-relative, root-relative, and
    // relative links (the fragment-only one must be excluded), resolved
    // against a per-doc base URL.
    "t28_links" -> { (s, dir) =>
      val id = col("doc_id").cast("string")
      val base = concat(lit("https://site"), id, lit(".com/dir/page.html"))
      val page = concat(
        lit("<a href=\"http://other.com/p\">x</a><a href='//cdn"), id,
        lit(".net/l.js'>y</a><a href=\"/root/a\">z</a>" +
          "<a href=\"sub/b.html\">w</a><a href=\"#frag\">f</a>"))
      Tables(s, dir, "documents")
        .select(col("doc_id"), base.as("base"),
          posexplode(Html.extractLinks(page)).as(Seq("pos", "href")))
        .withColumn("resolved", TextOps.resolveUrl(col("base"), col("href")))
        .select(col("doc_id"), col("pos"), col("href"), col("resolved"))
        .orderBy("doc_id", "pos")
    },

    // L66: BM25 keyword search — top-25 documents for a three-term query
    // over the corpus, row-local tf + one broadcast stats row.
    "t27_bm25_search" -> { (s, dir) =>
      Search.bm25(Tables(s, dir, "documents"), "text", "doc_id",
        "window merge scan", topK = 25)
    },

    // L66d: exact PHRASE search (round 16) — "these tokens, ADJACENT,
    // in this order": positional postings intersected on (doc, pos−i),
    // rarest-term-first. The oracle is the independent sliding-window
    // formulation over the tokenized list — two different algorithms,
    // one answer.
    "t56_phrase_search" -> { (s, dir) =>
      Search.phraseSearch(Tables(s, dir, "documents"), "text", "doc_id",
          "table hash")
        .orderBy("doc_id")
    },

    // L66e: BATCHED phrase search (round 17) — many standing phrases in
    // ONE corpus pass: the batch's term union prunes one positional-
    // postings scan, each phrase anchors on its RAREST term, and a
    // single (doc, pos, term)-keyed join verifies every phrase's
    // remaining slots. The set includes a 3-gram, a 4-gram, a
    // REPEATED-term phrase (each slot probes its own offset), and a
    // corpus-absent phrase (must match nothing). Oracle: the
    // independent per-phrase sliding window, generated lockstep from
    // the same phrase list.
    "t57_phrase_batch" -> { (s, dir) =>
      import s.implicits._
      val phrases = t57Phrases.toDF("query_id", "phrase")
      Search.phraseSearchBatch(Tables(s, dir, "documents"), "text",
          "doc_id", phrases, "query_id", "phrase")
        .orderBy("query_id", "doc_id")
    },

    // L66f: t56's phrase served from the PERSISTED positional index —
    // the build-once/serve-many split for phrase retrieval; t56's
    // sliding-window oracle gates it (the s05/t29 indexed≡direct
    // pattern). The probe reads only the phrase's term buckets and
    // explodes only their position lists.
    "t58_phrase_indexed" -> { (s, dir) =>
      val table = phraseIndexTable(s, dir)
      val probe = org.apache.spark.sql.graftbridge.Bridge.cloneSession(s)
      probe.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      Search.phraseProbe(probe, table, "doc_id", "table hash")
        .orderBy("doc_id")
    },

    // L66f (batch face): the t57 standing-phrase set from ONE
    // bucket-pruned index read — t57's lockstep oracle gates it.
    "t59_phrase_indexed_batch" -> { (s, dir) =>
      import s.implicits._
      val table = phraseIndexTable(s, dir)
      val probe = org.apache.spark.sql.graftbridge.Bridge.cloneSession(s)
      probe.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      val phrases = t57Phrases.toDF("query_id", "phrase")
      Search.phraseProbeBatch(probe, table, "doc_id", phrases,
          "query_id", "phrase")
        .orderBy("query_id", "doc_id")
    },

    // L66b: the same query served from the PERSISTED inverted index —
    // t27's oracle gates it (the s05/d06 indexed≡direct pattern): the
    // probe reads only the query's term buckets, never the corpus.
    "t29_bm25_indexed" -> { (s, dir) =>
      val table = bm25IndexTable(s, dir)
      // bucket pruning on a pure filter probe needs the auto-disable
      // heuristic off (the lshProbeBucketed caveat). The conf must hold
      // at the caller's ACTION time (planning is lazy), so it is set on
      // a session CLONE — the shared session's planning is untouched and
      // no restore bookkeeping can leak across the query registry.
      val probe = org.apache.spark.sql.graftbridge.Bridge.cloneSession(s)
      probe.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      Search.bm25Probe(probe, table, "doc_id", "window merge scan", topK = 25)
    },

    // L66c: MANY standing queries served from ONE pruned index read — the
    // batched-serving shape (s04/s06's) for keyword retrieval. Scores are
    // exact-long term sums (×10⁶), so the aggregation is order-free and
    // DuckDB replays it bit-for-bit; per-query top-k rides the salted
    // two-phase top-N.
    "t31_bm25_batch" -> { (s, dir) =>
      val table = bm25IndexTable(s, dir)
      val probe = org.apache.spark.sql.graftbridge.Bridge.cloneSession(s)
      probe.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      import probe.implicits._
      val qs = Seq(("q1", "window merge scan"), ("q2", "filter join vector"),
        ("q3", "dup stream")).toDF("query_id", "qtext")
      Search.bm25ProbeBatch(probe, table, "doc_id", qs, "query_id", "qtext",
        topK = 10)
        .orderBy("query_id", "doc_id")
    },

    // L84: link-density main-content extraction — the nav/link-farm/
    // footer chrome drops on sight (first fetch included), prose with an
    // inline link keeps.
    "t38_main_content" -> { (s, dir) =>
      val page = concat(lit(HtmlSalt.m0), col("text"), lit(HtmlSalt.m1))
      Tables(s, dir, "documents")
        .select(col("doc_id"), Html.mainContent(page).as("content"))
        .orderBy("doc_id")
    },

    // L85: Aho–Corasick multi-phrase gate — phrases span token
    // boundaries (t37 can't see them); one automaton scan per doc
    // regardless of list size. Docs with hits, each hit listed.
    "t39_phrase_blocklist" -> { (s, dir) =>
      val phrases = Seq("table table", "fast key scan", "slow fast")
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          graft.text.Phrases.phraseHits(col("text"), phrases).as("h"))
        .filter(size(col("h")) > 0)
        .select(col("doc_id"),
          array_join(col("h"), "|").as("hits"),
          size(col("h")).as("n_hits"))
        .orderBy("doc_id")
    },

    // L88: exact heavy hitters at fixed memory — Misra-Gries candidate
    // pass (no shuffle, k counters per task) + exact recount of the
    // bounded candidate set; same rows as the full group-by at any
    // partitioning, without its per-distinct-key aggregate state.
    "t40_heavy_tokens" -> { (s, dir) =>
      val toks = Tables(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
      graft.operators.HeavyHitters.heavyHitters(toks, "token", fracPpm = 5000)
        .withColumnRenamed("key", "token")
        .orderBy("token")
    },

    // L88b: per-group heavy hitters — each language's hot tokens, which
    // the global t40 pass structurally can't answer (a key dominating a
    // small group is invisible against the corpus-wide total).
    "t41_heavy_tokens_by_lang" -> { (s, dir) =>
      val toks = Tables(s, dir, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("token"))
      graft.operators.HeavyHitters.heavyHittersByGroup(
          toks, "lang", "token", fracPpm = 20000)
        .orderBy("lang", "token")
    },

    // L91: cross-run distinct-cardinality registry — estimated distinct
    // docs per source over two appended "days" of sketches (the
    // registry never stores raw values once a group densifies; sparse
    // groups keep their exact hash list, which is what makes small
    // cardinalities exact). Uses the PORTABLE register sketch whose
    // exact-integer estimator the DuckDB oracle replays value-exact at
    // every gated scale — sparse (exact) at sf0.01, dense (raw-HLL
    // integer estimate) at sf1. The DataSketches tier stays spec-gated
    // (CardinalitySpec) as the high-accuracy production variant.
    "t42_distinct_per_source" -> { (s, dir) =>
      val table = "graft_cardregp_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      if (!s.catalog.tableExists(table)) {
        graft.sources.Warehouse.dropTableAndLocation(s, table)
        graft.operators.Cardinality.createPortableRegistry(s, table,
          buckets = 4)
        graft.operators.Cardinality.appendPortableSketches(
          Tables(s, dir, "documents").filter(col("doc_id") < 250),
          "source", "doc_id", table)
        graft.operators.Cardinality.appendPortableSketches(
          Tables(s, dir, "documents").filter(col("doc_id") >= 250),
          "source", "doc_id", table)
      }
      graft.operators.Cardinality.distinctPerGroupPortable(s, table)
        .orderBy("group")
    },

    // L83b: C4-style word-list gate — docs containing any listed word
    // drop; survivors carry the (zero) hit count as evidence.
    "t37_word_blocklist" -> { (s, dir) =>
      val hits = TextOps.blockedWordCount(col("text"), Seq("slow", "dup"))
      Tables(s, dir, "documents")
        .withColumn("n_blocked", hits)
        .filter(col("n_blocked") === 0)
        .select("doc_id", "n_blocked")
        .orderBy("doc_id")
    },

    // L83: domain-blocklist URL gate — synthetic per-source URLs (every
    // 3rd doc lands on a SUBDOMAIN of its source domain), blocklist =
    // {src3.example, src7.example}: direct hosts AND their subdomains
    // drop, www./port/case variants still match, everything else keeps.
    "t36_url_blocklist" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables(s, dir, "documents")
        .withColumn("url", concat(
          lit("https://"),
          when(pmod(col("doc_id"), lit(3)) === 0, lit("cdn.")).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(5)) === 0, lit("WWW.")).otherwise(lit("")),
          col("source"), lit(".example"),
          when(pmod(col("doc_id"), lit(7)) === 0, lit(":443")).otherwise(lit("")),
          lit("/page/"), col("doc_id")))
      val blocked = Seq("src3.example", "src7.example").toDF("domain")
      TextOps.filterBlockedDomains(docs, "url", "doc_id", blocked)
        .select("doc_id", "url", "source")
        .orderBy("doc_id")
    },

    // L81: DEFLATE compression-ratio quality signal. DuckDB has no
    // deflate scalar (probed: duckdb_functions() lists none, v1.0.0),
    // so the oracle follows the t14/t19 export-the-state pattern with
    // the roles reversed: the EXPECTED values are computed by an
    // INDEPENDENT implementation — CPython's zlib via a python3
    // subprocess (guaranteed driver-side next to duckdb itself) — and
    // exported as parquet the oracle SQL reads back. check.py's local
    // zratio UDF gate (the same CPython formula) stays as the
    // belt-and-braces check; determinism + junk/natural/noise
    // separation remain spec-pinned.
    "t35_compression_ratio" -> { (s, dir) =>
      exportT35Expected(s, dir)
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.compressionRatio(col("text")).as("compression_ratio"))
        .orderBy("doc_id")
    },

    // L77b: the PER-SOURCE threshold calibration — keep the best ~40% of
    // each source by quality (fully distributed: per-group histogram +
    // bounded per-group window, no driver state).
    "t34_quantile_by_source" -> { (s, dir) =>
      val scored = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          round(TextOps.qualityScore(col("text")), 4).as("score"))
      TextOps.keepTopFractionByGroup(scored, "score", "source",
          keepFrac = 0.4, bins = 64)
        .orderBy("doc_id")
    },

    // L76: long-document chunking — 40-token windows stepping by 32
    // (8-token overlap), row-local explode+slice, no shuffle.
    "t32_chunks" -> { (s, dir) =>
      TextOps.chunkDocs(Tables(s, dir, "documents"), "text", "doc_id",
          maxTokens = 40, overlap = 8)
        .orderBy("doc_id", "chunk_id")
    },

    // L76b: SENTENCE-ALIGNED chunking (round 18) — 40-token budget,
    // boundaries snap to the last sentence end within budget (t26's
    // terminal-punctuation rule); only an oversized single sentence is
    // cut mid-sentence. Row-local span UDF + posexplode, no shuffle.
    "t60_sentence_chunks" -> { (s, dir) =>
      TextOps.sentenceChunks(Tables(s, dir, "documents"), "text", "doc_id",
          maxTokens = 40)
        .orderBy("doc_id", "chunk_id")
    },

    // L77: quality-threshold calibration — keep the best ~30% by quality
    // score via the two-pass histogram cut (no global sort; driver state
    // = 64 bin counts). The kept set is every row at or above the cut
    // bin: deterministic, ≥ the requested fraction.
    "t33_quantile_filter" -> { (s, dir) =>
      val scored = Tables(s, dir, "documents")
        .select(col("doc_id"),
          round(TextOps.qualityScore(col("text")), 4).as("score"))
      TextOps.keepTopFraction(scored, "score", keepFrac = 0.3, bins = 64)
        .orderBy("doc_id")
    },

    // L65: line-shape quality profile (C4/Gopher/FineWeb heuristics) —
    // the single-line corpus is salted into a page shape: a sentence
    // line, a bullet, the doc text, an optional ellipsis teaser (every
    // 4th doc), and a short "ok" line.
    "t26_line_stats" -> { (s, dir) =>
      val ml = concat(
        lit("First sentence line.\n- bullet "),
        pmod(col("doc_id"), lit(3)).cast("string"), lit("\n"),
        col("text"),
        when(col("doc_id") % 4 === 0, lit("\nteaser trails off..."))
          .otherwise(lit("")),
        lit("\nok\n"))
      Tables(s, dir, "documents")
        .select(col("doc_id"), TextOps.lineStats(ml).as("ls"))
        .select(col("doc_id"), col("ls.*"))
        .orderBy("doc_id")
    },

    // L62: deterministically SHUFFLED token-budget shards — same
    // prefix-sum layout as t18 but over the md5(seed:id) pseudo-random
    // global order, with the order key carried as evidence.
    "t25_shuffled_shards" -> { (s, dir) =>
      TextOps.shuffledShards(Tables(s, dir, "documents"), "text",
          "doc_id", shardTokens = 2048, seed = "r10")
        .select(col("doc_id"), col("n_tokens"), col("shuffle_key"),
          col("shard"))
        .orderBy("doc_id")
    },

    // L45: per-source document quota (domain cap) — keep at most 12 docs
    // per source, smallest ids win, salted two-phase top-N under the hood.
    "t15_source_quota" -> { (s, dir) =>
      TextOps.sourceQuota(Tables(s, dir, "documents"), "source", "doc_id", 12)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    },

    // L47: per-source corpus profile — the per-ingest report row.
    "t16_source_profile" -> { (s, dir) =>
      TextOps.sourceProfile(Tables(s, dir, "documents"), "source", "text")
        .orderBy("source")
    },

    // L23: PII redaction. The synthetic corpus is PII-free, so each doc is
    // salted with a deterministic email + IP + phone derived from its id —
    // every row exercises all three patterns and the oracle replays the
    // same salt, making the hash compare non-vacuous.
    "t11_pii_redact" -> { (s, dir) =>
      val salted = Tables(s, dir, "documents")
        .withColumn("pii_text", concat(
          col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com on 10.0."),
          pmod(col("doc_id"), lit(256)), lit(".7 tel +1 555 010 "),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
      salted.select(col("doc_id"),
        TextOps.redactPii(col("pii_text")).as("redacted"))
        .orderBy("doc_id")
    },

    // L88c: cross-run FREQUENCY registry — tokens heavy over two appended
    // "days" without rescanning day 1: each append stores the run's keys
    // whose exact count clears the strict n_run/(k+1) cutoff (fixed-memory
    // MG candidates + exact recount) plus a total row; the report merges
    // stored lower bounds, adds back the exact forfeit bound
    // B = Σ⌊n_r/(k+1)⌋, and flags rows already guaranteed on the lower
    // bound alone. Pure integer arithmetic — the oracle replays the whole
    // registry from the same token stream.
    "t43_heavy_over_runs" -> { (s, dir) =>
      val table = "graft_freqreg_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      if (!s.catalog.tableExists(table)) {
        graft.sources.Warehouse.dropTableAndLocation(s, table)
        graft.operators.HeavyHitters.createFreqRegistry(s, table, buckets = 4)
        val toks = Tables(s, dir, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        graft.operators.HeavyHitters.appendRunCounts(
          toks.filter(pmod(col("doc_id"), lit(2)) === 0), "token", table,
          k = 999)
        graft.operators.HeavyHitters.appendRunCounts(
          toks.filter(pmod(col("doc_id"), lit(2)) === 1), "token", table,
          k = 999)
      }
      graft.operators.HeavyHitters.heavyHittersOverRuns(s, table,
          fracPpm = 5000)
        .select(col("key").as("token"), col("cnt_min"),
          col("guaranteed").cast("int").as("guaranteed"))
        .orderBy("token")
    },

    // L92: cross-run DISTRIBUTION registry — per-source document-length
    // quantile bounds over two appended "days": dyadic (bit-length) bins
    // merge by exact addition, so the report over N runs equals a
    // one-pass histogram; quantile rows return the smallest bin whose
    // cumulative count reaches ⌈q·N⌉ with hard [lo, hi] dyadic bounds.
    // Integer both ways (binary-string length ≡ DuckDB format('{:b}')).
    "t44_length_quantiles" -> { (s, dir) =>
      val table = "graft_histreg_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      if (!s.catalog.tableExists(table)) {
        graft.sources.Warehouse.dropTableAndLocation(s, table)
        graft.operators.Histograms.createHistRegistry(s, table, buckets = 4)
        val lens = Tables(s, dir, "documents")
          .withColumn("len", length(col("text")).cast("long"))
        graft.operators.Histograms.appendHistogram(
          lens.filter(col("doc_id") < 250), "source", "len", table)
        graft.operators.Histograms.appendHistogram(
          lens.filter(col("doc_id") >= 250), "source", "len", table)
      }
      graft.operators.Histograms.quantilesOverRuns(s, table,
        Seq(250000L, 500000L, 900000L))
    },

    // L92b: distribution DRIFT between two histogram registries — the
    // population-stability-index report over per-source length
    // distributions of two corpus "eras" (PSI + L1, add-one smoothed
    // over the union bin set so both sides stay exact probability
    // distributions; ln-at-ROUND-4, the t13 cross-engine precedent).
    "t45_length_drift" -> { (s, dir) =>
      val suffix = dir.replaceAll("[^A-Za-z0-9]", "_")
      val ta = "graft_histdrift_a_" + suffix
      val tb = "graft_histdrift_b_" + suffix
      if (!s.catalog.tableExists(ta) || !s.catalog.tableExists(tb)) {
        val lens = Tables(s, dir, "documents")
          .withColumn("len", length(col("text")).cast("long"))
        for ((t, pred) <- Seq(
            ta -> (col("doc_id") < 250), tb -> (col("doc_id") >= 250))) {
          graft.sources.Warehouse.dropTableAndLocation(s, t)
          graft.operators.Histograms.createHistRegistry(s, t, buckets = 4)
          graft.operators.Histograms.appendHistogram(
            lens.filter(pred), "source", "len", t)
        }
      }
      graft.operators.Histograms.driftReport(s, ta, tb)
    },

    // L88d: PER-GROUP cross-run frequency registry — each language's
    // tokens heavy over two appended "days": a key dominating a small
    // group registers where the global t43 registry structurally can't
    // see it; per-group exact-above-cutoff counts, per-group forfeit
    // bounds, all-integer and fully replayed by the oracle.
    "t46_heavy_by_lang_over_runs" -> { (s, dir) =>
      val table = "graft_freqregg_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      if (!s.catalog.tableExists(table)) {
        graft.sources.Warehouse.dropTableAndLocation(s, table)
        graft.operators.HeavyHitters.createFreqRegistryByGroup(s, table,
          buckets = 4)
        val toks = Tables(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            explode(split(col("text"), " ")).as("token"))
        graft.operators.HeavyHitters.appendRunCountsByGroup(
          toks.filter(pmod(col("doc_id"), lit(2)) === 0), "lang", "token",
          table, k = 99)
        graft.operators.HeavyHitters.appendRunCountsByGroup(
          toks.filter(pmod(col("doc_id"), lit(2)) === 1), "lang", "token",
          table, k = 99)
      }
      graft.operators.HeavyHitters.heavyHittersOverRunsByGroup(s, table,
          fracPpm = 20000)
        .select(col("group"), col("key").as("token"), col("cnt_min"),
          col("guaranteed").cast("int").as("guaranteed"))
        .orderBy("group", "token")
    },

    // L93: cross-run FREQUENCY-ESTIMATE registry (Count–Min) — "about how
    // often has THIS token appeared across every run ever appended", for
    // ANY token (the heavy-hitter registry only answers for keys that
    // cleared its cutoff). Two appended "days"; estimates are min-over-
    // depth counters, can only overcount, and merge is exact addition so
    // the oracle replays the whole matrix one-pass. Probes: every seen
    // (lang, token) pair plus a planted never-seen token per lang (its
    // estimate is whatever its cells collide into — 0 at this width).
    "t47_cms_over_runs" -> { (s, dir) =>
      val table = "graft_cmsreg_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      if (!s.catalog.tableExists(table)) {
        graft.sources.Warehouse.dropTableAndLocation(s, table)
        graft.operators.CountMin.createCmsRegistry(s, table, buckets = 4)
        val toks = Tables(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            explode(split(col("text"), " ")).as("token"))
        graft.operators.CountMin.appendCms(
          toks.filter(pmod(col("doc_id"), lit(2)) === 0), "lang", "token",
          table)
        graft.operators.CountMin.appendCms(
          toks.filter(pmod(col("doc_id"), lit(2)) === 1), "lang", "token",
          table)
      }
      val docs = Tables(s, dir, "documents")
      val probes = docs
        .select(col("lang"), explode(split(col("text"), " ")).as("token"))
        .distinct()
        .unionByName(docs.select(col("lang")).distinct()
          .select(col("lang"),
            concat(lit("zz_absent_"), col("lang")).as("token")))
      graft.operators.CountMin.cmsEstimates(probes, "lang", "token", table)
        .select(col("group"), col("key").as("token"), col("cnt_est"))
        .orderBy("group", "token")
    },

    // L95: per-document TF-IDF keywords — top-5 tokens per document by
    // tf·ln((N+1)/(df+1)), scores ROUND 4 before ranking with token
    // tie-breaks so the top-k boundary is engine-deterministic.
    "t48_keywords" -> { (s, dir) =>
      TextOps.keywords(Tables(s, dir, "documents"), "text", "doc_id", k = 5)
        .orderBy("doc_id", "rank")
    },

    // L96: ftfy-lite text canonicalization — mojibake repair (all-or-
    // nothing strict-UTF-8 re-decode of latin-1/cp1252-shaped code
    // points), NFC, newline canon, control/zero-width strip. Salted with
    // deterministic variants per doc_id: 2-byte and 3-byte mojibake (both
    // the cp1252 and the raw-C1 flavor), decomposed accents, zero-width +
    // CRLF, plain ASCII, and GENUINE Latin-1 text that must pass through
    // untouched (the safety pin: one stray é never forms valid UTF-8).
    "t49_fix_text" -> { (s, dir) =>
      val salts = FixSalt.variants
        .map(v => lit(new String(v.toArray, 0, v.length)))
      Tables(s, dir, "documents").select(col("doc_id"),
          TextOps.fixText(concat(
            element_at(array(salts: _*),
              (pmod(col("doc_id"), lit(salts.size)) + 1).cast("int")),
            lit(" "), col("text"))).as("fixed"))
        .orderBy("doc_id")
    }
  )

  // t01's oracle is generated from TextOps.stopwords so the SQL literal
  // lists can never drift from the Scala ones. Mirrors langId exactly:
  // stopword votes (first language in list order wins ties), CJK override,
  // "und" when no stopword hits.
  // The langId vote rendered in SQL, shared by t01 (whole document) and
  // t53 (per line) so the two oracles can never disagree on the vote:
  // stopword-count select items over a `toks` list column, the GREATEST,
  // and the CASE arms in the Scala fold's exact language order.
  private val langCountsSql: String =
    TextOps.stopwords.map { case (lang, words) =>
      val lits = words.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(toks, t -> list_contains([$lits], t))) AS c_$lang"
    }.mkString(",\n    ")
  private val langBestSql: String =
    TextOps.stopwords.map(l => s"c_${l._1}").mkString("GREATEST(", ", ", ")")
  private val langVoteCaseSql: String = {
    val langs = TextOps.stopwords.map(_._1)
    langs.init.map(l => s"WHEN c_$l = best THEN '$l'").mkString("\n       ") +
      s"\n       ELSE '${langs.last}'"
  }

  private val langIdOracle: String = {
    val counts = langCountsSql
    val best = langBestSql
    val vote = langVoteCaseSql
    s"""WITH t AS (
       |  SELECT doc_id, text, string_split_regex(lower(text), '\\s+') AS toks
       |  FROM documents),
       |c AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_extract_all(text, '[\\x{4E00}-\\x{9FFF}]')) AS DOUBLE)
       |      / GREATEST(CAST(LENGTH(text) AS DOUBLE), 1.0) AS cjk,
       |    CAST(len(regexp_extract_all(text, '[\\x{3040}-\\x{30FF}]')) AS DOUBLE)
       |      / GREATEST(CAST(LENGTH(text) AS DOUBLE), 1.0) AS kana,
       |    CAST(len(regexp_extract_all(text, '[\\x{AC00}-\\x{D7A3}]')) AS DOUBLE)
       |      / GREATEST(CAST(LENGTH(text) AS DOUBLE), 1.0) AS hangul,
       |    $counts
       |  FROM t),
       |b AS (SELECT *, $best AS best FROM c)
       |SELECT doc_id,
       |  CASE WHEN hangul > 0.25 THEN 'ko'
       |       WHEN kana > 0.10 THEN 'ja'
       |       WHEN cjk > 0.25 THEN 'zh'
       |       WHEN best = 0 THEN 'und'
       |       $vote END AS lang_pred
       |FROM b
       |ORDER BY doc_id""".stripMargin
  }

  /** Build (once per sfDir per warehouse) the persisted BM25 inverted
    * index t29 probes — the ivfIndexTable build-once pattern: the
    * documents corpus tokenized into term-bucketed postings + the stats
    * sibling, so the probe serves without touching the corpus.
    */
  private def phraseIndexTable(s: SparkSession, dir: String): String = {
    val table = "graft_phrasepos_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    if (!s.catalog.tableExists(table)) {
      graft.sources.Warehouse.dropTableAndLocation(s, table)
      Search.writePhraseIndex(Tables(s, dir, "documents"), "text", "doc_id",
        table, buckets = 16)
    }
    table
  }

  private def bm25IndexTable(s: SparkSession, dir: String): String = {
    val table = "graft_bm25_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    if (!s.catalog.tableExists(table) || !s.catalog.tableExists(s"${table}_stats")) {
      for (t <- Seq(table, s"${table}_stats"))
        graft.sources.Warehouse.dropTableAndLocation(s, t)
      Search.writeBm25Index(Tables(s, dir, "documents"), "text", "doc_id",
        table, buckets = 16)
    }
    table
  }

  private val bm25Oracle: String =
    """WITH base AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |d AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS DOUBLE) AS dl,
        |    CAST(len(list_filter(toks, x -> x = 'window')) AS DOUBLE) AS tf0,
        |    CAST(len(list_filter(toks, x -> x = 'merge')) AS DOUBLE) AS tf1,
        |    CAST(len(list_filter(toks, x -> x = 'scan')) AS DOUBLE) AS tf2
        |  FROM base),
        |st AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl,
        |    CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
        |    CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
        |    CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
        |  FROM d),
        |sc AS (
        |  SELECT doc_id,
        |    ROUND(
        |      ROUND(ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0 * (1.2 + 1.0) / (tf0 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)), 6)
        |      + ROUND(ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * tf1 * (1.2 + 1.0) / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)), 6)
        |      + ROUND(ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * tf2 * (1.2 + 1.0) / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)), 6),
        |    4) AS score
        |  FROM d CROSS JOIN st)
        |SELECT doc_id, score FROM sc
        |WHERE score > 0
        |ORDER BY score DESC, doc_id
        |LIMIT 25""".stripMargin

  // t57's standing phrases — ONE list feeds both the Spark query and the
  // generated DuckDB oracle (the lockstep-generation convention): a
  // 2-gram, another 2-gram, a 3-gram, a repeated-term phrase, a 4-gram,
  // and a phrase whose terms never occur in the corpus
  private val t57Phrases = Seq(
    ("p1_table_hash", "table hash"),
    ("p2_sort_merge", "sort merge"),
    ("p3_tri", "value table part"),
    ("p4_repeat", "table table"),
    ("p5_quad", "big query value customer"),
    ("p6_absent", "quick zebra"))

  // the per-phrase sliding-window arm of the t57 oracle, generated from
  // the same phrase list the engine serves
  private def t57OracleSql: String = {
    val per = t57Phrases.map { case (q, p) =>
      val ts = p.split(" ").toSeq
      val conds = ts.zipWithIndex
        .map { case (t, j) => s"toks[i+$j] = '$t'" }.mkString(" AND ")
      s"""SELECT '$q' AS query_id, doc_id
         |  FROM t, UNNEST(generate_series(1, len(toks) - ${ts.length - 1})) s(i)
         |  WHERE $conds""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '\\s+'),
       |                x -> x <> '') AS toks
       |  FROM documents)
       |SELECT query_id, doc_id, COUNT(*) AS n_matches
       |FROM (
       |  $per)
       |GROUP BY query_id, doc_id
       |ORDER BY query_id, doc_id""".stripMargin
  }

  // t56: the sliding-window check — an independent algorithm from the
  // positional-postings intersection the engine runs; also gates the
  // indexed probe t58 (indexed ≡ direct by construction)
  private val t56OracleSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\s+'),
      |                x -> x <> '') AS toks
      |  FROM documents)
      |SELECT doc_id, COUNT(*) AS n_matches
      |FROM t, UNNEST(generate_series(1, len(toks) - 1)) s(i)
      |WHERE toks[i] = 'table' AND toks[i+1] = 'hash'
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // built on each call: the export paths name the `graft.oracle.exportRoot`
  // in force when the SQL is dumped, not when this object initialized
  def oracles: Map[String, String] = Map(
    "t57_phrase_batch" -> t57OracleSql,
    "t59_phrase_indexed_batch" -> t57OracleSql,
    "t56_phrase_search" -> t56OracleSql,
    "t58_phrase_indexed" -> t56OracleSql,

    // t35: expected side is the CPython-zlib export (independent
    // implementation of the same RFC 1951 deflate, level 6 / raw) — see
    // exportT35Expected; the SQL just reads it back in gate shape.
    "t35_compression_ratio" ->
      s"""SELECT doc_id, compression_ratio
         |FROM read_parquet('${OracleHashLib.exportRoot}/t35_expected.parquet')
         |ORDER BY doc_id""".stripMargin,

    "t01_langid" -> langIdOracle,

    // t04: the rolling 16-char polynomial fingerprint recomputed — the
    // windowed minimum of the FNV-prime poly hash over UTF-16 code units
    // (ASCII corpus: code point ≡ code unit), signed comparison. Windows
    // recompute from a bound codes list (the wrapping rolling update and
    // the window recompute are identical mod 2^64).
    "t04_fingerprint" ->
      (OracleHashLib.preamble +
        """SELECT doc_id,
          #  CASE WHEN n = 0 THEN 0
          #       WHEN n <= 16
          #       THEN g_s64(list_reduce(list_prepend(0::HUGEINT, cs),
          #              (h, c) -> (g_mul64(h, 1099511628211) + c)
          #                        & 18446744073709551615))
          #       ELSE list_min(list_transform(range(1, n - 14),
          #              st -> g_s64(list_reduce(
          #                list_prepend(0::HUGEINT, cs[st:st+15]),
          #                (h, c) -> (g_mul64(h, 1099511628211) + c)
          #                          & 18446744073709551615))))
          #  END AS fp64
          #FROM (SELECT doc_id, g_codes(coalesce(text, '')) AS cs,
          #             length(coalesce(text, '')) AS n FROM documents)
          #ORDER BY doc_id""".stripMargin('#')),

    // t19: greedy BPE encode replayed in SQL against the merge table the
    // query exports (training stays spec-gated state; encode+count is the
    // verified application — the t14 pattern).
    "t19_bpe_tokens" -> OracleHashLib.t19OracleSql(),

    // t50: Viterbi encode replayed in SQL as an unrolled integer position
    // DP against the exported micro-nat vocabulary — piece count AND total
    // log-likelihood both hash-gated (training stays spec-gated Spark
    // state, the t19 convention)
    "t50_unigram_tokens" -> OracleHashLib.t50OracleSql(),

    // t51: the same DP against t51's own vocab export, salted probe text,
    // per-source coverage counters with integral-ppm OOV rate
    "t51_oov_by_source" -> OracleHashLib.t51OracleSql(),

    // t53: per-line langId votes (the t01 machinery over each salted
    // line) + IS DISTINCT FROM breaks + running-sum segment ids,
    // aggregated per (doc, segment)
    "t53_lang_segments" ->
      s"""WITH raw AS (
         |  SELECT doc_id, ${OracleHashLib.t53SaltSqlExpr} AS qtext
         |  FROM documents),
         |lx AS (
         |  SELECT doc_id, string_split(qtext, chr(10)) AS lines FROM raw),
         |li AS (
         |  SELECT doc_id, unnest(range(1, len(lines) + 1)) AS i, lines
         |  FROM lx),
         |l AS (
         |  SELECT doc_id, CAST(i - 1 AS INT) AS line_no, lines[i] AS line,
         |    string_split_regex(lower(lines[i]), '\\s+') AS toks
         |  FROM li),
         |c AS (
         |  SELECT doc_id, line_no,
         |    CAST(len(regexp_extract_all(line, '[\\x{4E00}-\\x{9FFF}]')) AS DOUBLE)
         |      / GREATEST(CAST(LENGTH(line) AS DOUBLE), 1.0) AS cjk,
         |    CAST(len(regexp_extract_all(line, '[\\x{3040}-\\x{30FF}]')) AS DOUBLE)
         |      / GREATEST(CAST(LENGTH(line) AS DOUBLE), 1.0) AS kana,
         |    CAST(len(regexp_extract_all(line, '[\\x{AC00}-\\x{D7A3}]')) AS DOUBLE)
         |      / GREATEST(CAST(LENGTH(line) AS DOUBLE), 1.0) AS hangul,
         |    $langCountsSql
         |  FROM l),
         |b AS (SELECT *, $langBestSql AS best FROM c),
         |v AS (
         |  SELECT doc_id, line_no,
         |    CASE WHEN hangul > 0.25 THEN 'ko'
         |         WHEN kana > 0.10 THEN 'ja'
         |         WHEN cjk > 0.25 THEN 'zh'
         |         WHEN best = 0 THEN 'und'
         |         $langVoteCaseSql END AS lang
         |  FROM b),
         |s0 AS (
         |  SELECT doc_id, line_no, lang,
         |    CASE WHEN lag(lang) OVER (PARTITION BY doc_id ORDER BY line_no)
         |         IS DISTINCT FROM lang THEN 1 ELSE 0 END AS new_seg
         |  FROM v),
         |s1 AS (
         |  SELECT doc_id, line_no, lang,
         |    SUM(new_seg) OVER (PARTITION BY doc_id ORDER BY line_no) - 1
         |      AS seg_id
         |  FROM s0)
         |SELECT doc_id, CAST(seg_id AS INT) AS seg_id, lang,
         |  CAST(MIN(line_no) AS INT) AS start_line, COUNT(*) AS n_lines
         |FROM s1
         |GROUP BY doc_id, seg_id, lang
         |ORDER BY doc_id, seg_id""".stripMargin,

    // t55: exact counters + one IEEE division + the ln-sum-then-ROUND-4
    // entropy convention
    "t55_corpus_health" ->
      """WITH base AS (
        |  SELECT COUNT(*) AS n_docs,
        |    CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_null_text,
        |    CAST(SUM(COALESCE(len(list_filter(
        |      string_split_regex(text, '\s+'), x -> x <> '')), 0)) AS BIGINT)
        |      AS n_tokens,
        |    COUNT(DISTINCT source) AS n_sources,
        |    COUNT(DISTINCT lang) AS n_langs
        |  FROM documents),
        |lt AS (SELECT COUNT(*) AS nl FROM documents WHERE lang IS NOT NULL),
        |ent AS (
        |  SELECT ROUND(SUM(-p * LN(p)), 4) AS lang_entropy
        |  FROM (SELECT CAST(COUNT(*) AS DOUBLE) / (SELECT nl FROM lt) AS p
        |        FROM documents WHERE lang IS NOT NULL GROUP BY lang))
        |SELECT n_docs, n_null_text, n_tokens, n_sources, n_langs,
        |  ROUND(CAST(n_tokens AS DOUBLE) / n_docs, 4) AS mean_tokens,
        |  lang_entropy
        |FROM base CROSS JOIN ent""".stripMargin,

    // t54: the t53 per-line vote fragments + per-doc (count DESC, lang)
    // argmax + integral-ppm purity
    "t54_lang_purity" ->
      s"""WITH raw AS (
         |  SELECT doc_id, ${OracleHashLib.t53SaltSqlExpr} AS qtext
         |  FROM documents),
         |lx AS (
         |  SELECT doc_id, string_split(qtext, chr(10)) AS lines FROM raw),
         |li AS (
         |  SELECT doc_id, unnest(range(1, len(lines) + 1)) AS i, lines
         |  FROM lx),
         |l AS (
         |  SELECT doc_id, lines[i] AS line,
         |    string_split_regex(lower(lines[i]), '\\s+') AS toks
         |  FROM li),
         |c AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(line, '[\\x{4E00}-\\x{9FFF}]')) AS DOUBLE)
         |      / GREATEST(CAST(LENGTH(line) AS DOUBLE), 1.0) AS cjk,
         |    CAST(len(regexp_extract_all(line, '[\\x{3040}-\\x{30FF}]')) AS DOUBLE)
         |      / GREATEST(CAST(LENGTH(line) AS DOUBLE), 1.0) AS kana,
         |    CAST(len(regexp_extract_all(line, '[\\x{AC00}-\\x{D7A3}]')) AS DOUBLE)
         |      / GREATEST(CAST(LENGTH(line) AS DOUBLE), 1.0) AS hangul,
         |    $langCountsSql
         |  FROM l),
         |b AS (SELECT *, $langBestSql AS best FROM c),
         |v AS (
         |  SELECT doc_id,
         |    CASE WHEN hangul > 0.25 THEN 'ko'
         |         WHEN kana > 0.10 THEN 'ja'
         |         WHEN cjk > 0.25 THEN 'zh'
         |         WHEN best = 0 THEN 'und'
         |         $langVoteCaseSql END AS lang
         |  FROM b),
         |cnts AS (
         |  SELECT doc_id, lang, COUNT(*) AS cnt FROM v GROUP BY 1, 2),
         |tot AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_lines
         |        FROM cnts GROUP BY 1),
         |dom AS (
         |  SELECT doc_id, lang AS dominant_lang, cnt AS n_dominant
         |  FROM cnts
         |  QUALIFY row_number() OVER (PARTITION BY doc_id
         |    ORDER BY cnt DESC, lang) = 1)
         |SELECT d.doc_id, d.dominant_lang, t.n_lines, d.n_dominant,
         |  (d.n_dominant * 1000000) // t.n_lines AS purity_ppm
         |FROM dom d JOIN tot t USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    // t52: the hash-order sample replayed via the certified two-murmur
    // key64 macros — SIGNED 64-bit order (g_s64) because Spark sorts the
    // key as a signed long
    "t52_stratified_sample" ->
      (OracleHashLib.preamble +
        s"""WITH k AS (
           |  SELECT source, doc_id,
           |    g_s64(${OracleHashLib.key64Sql("CAST(doc_id AS STRING)")}) AS hk
           |  FROM documents)
           |SELECT source, doc_id,
           |  CAST(row_number() OVER (
           |    PARTITION BY source ORDER BY hk, doc_id) AS INT) AS sample_rank
           |FROM k
           |QUALIFY sample_rank <= 5
           |ORDER BY source, sample_rank""".stripMargin),

    // t42: the portable register sketch's exact-integer estimator replayed
    // in full — xxhash64, bucket/rho, sparse/dense mode split, HUGEINT
    // raw-HLL division. Valid at EVERY scale (unlike the round-13/14
    // coupon-exact attempt, withdrawn because DataSketches left its exact
    // regime at sf1): sparse groups gate the exact distinct count, dense
    // groups gate the identical integer estimate. The DataSketches tier's
    // error bounds stay spec-gated (CardinalitySpec).
    "t42_distinct_per_source" -> OracleHashLib.t42OracleSql(),

    // t14: the classifier's hashed-feature re-score against the weights
    // t14's query exports (training is Spark-side state, spec-gated; the
    // feature hashing, distinct-bucket dedup, bias, and threshold are
    // verified here). sigmoid(m) > 0.5 ⇔ m > 0 (monotone; margins are
    // O(1) after 20 spam-vs-prose iterations, far above float-sum noise).
    "t14_quality_classifier" ->
      (OracleHashLib.preamble +
        s"""WITH w AS (
           #  SELECT idx, weight
           #  FROM read_parquet('${OracleHashLib.T14ModelExport}/*.parquet')
           #), docs AS (
           #  SELECT doc_id, CASE WHEN doc_id % 3 = 0
           #    THEN text ||
           #      ' winner free prize claim click bonus offer cash urgent deal'
           #    ELSE text END AS qtext
           #  FROM documents
           #), toks AS (
           #  SELECT doc_id, unnest(string_split_regex(qtext, '\\s+')) AS t
           #  FROM docs
           #), vocab AS MATERIALIZED (
           #  SELECT t,
           #    g_u32(g_scala_stringhash(t, ${OracleHashLib.StringSeed})) >> 16
           #      AS bucket
           #  FROM (SELECT DISTINCT t FROM toks WHERE t <> '')
           #), tb AS (
           #  SELECT DISTINCT doc_id, bucket
           #  FROM toks JOIN vocab USING (t)
           #), marg AS (
           #  SELECT d.doc_id,
           #    coalesce(sum(w.weight), 0)
           #      + (SELECT weight FROM w WHERE idx = -1) AS m
           #  FROM docs d
           #  LEFT JOIN tb ON tb.doc_id = d.doc_id
           #  LEFT JOIN w ON w.idx = tb.bucket
           #  GROUP BY d.doc_id
           #)
           #SELECT doc_id, (m > 0)::INT AS pred FROM marg
           #ORDER BY doc_id""".stripMargin('#')),

    // Same empty-filtered tokenization, Laplace smoothing, and ROUND(…,4)
    // as LangModel.trainBigramLm + crossEntropy (self-trained here, so
    // every gram joins; the operator's unseen-gram path is spec-covered).
    "t13_lm_perplexity" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS l
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS g
        |  FROM toks WHERE len(l) >= 2),
        |dg AS (
        |  SELECT doc_id, g[1] AS w1, g[2] AS w2, COUNT(*) AS k
        |  FROM grams GROUP BY 1, 2, 3),
        |bi AS (SELECT w1, w2, SUM(k) AS cnt FROM dg GROUP BY 1, 2),
        |ctx AS (SELECT w1, SUM(cnt) AS ctx FROM bi GROUP BY 1),
        |v AS (SELECT COUNT(DISTINCT t) AS v FROM (SELECT unnest(l) AS t FROM toks)),
        |sc AS (
        |  SELECT dg.doc_id,
        |    CAST(SUM(k) AS INTEGER) AS n_bigrams,
        |    ROUND(-SUM(k * ln((cnt + 1.0) / (ctx + (SELECT v FROM v)))) / SUM(k), 4)
        |      AS cross_entropy
        |  FROM dg JOIN bi USING (w1, w2) JOIN ctx USING (w1)
        |  GROUP BY dg.doc_id)
        |SELECT d.doc_id,
        |  COALESCE(n_bigrams, 0) AS n_bigrams,
        |  cross_entropy
        |FROM documents d LEFT JOIN sc USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // The interpolated-KN ladder replayed exactly: every model table is a
    // groupBy of the trigram counts (as in trainKnTrigramLm), the p1/p2/p3
    // terms keep the Spark expression's associativity (left-to-right */÷),
    // and the discount 0.75 / uniform V+1 floor enter as the same
    // literals. ln-at-ROUND-4 is the t13 parity precedent.
    "t30_kn_perplexity" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS l
        |  FROM documents),
        |tg AS (
        |  SELECT doc_id,
        |    unnest(list_zip(l[1:len(l)-2], l[2:len(l)-1], l[3:len(l)])) AS g
        |  FROM toks WHERE len(l) >= 3),
        |dg AS (
        |  SELECT doc_id, g[1] AS w1, g[2] AS w2, g[3] AS w3, COUNT(*) AS k
        |  FROM tg GROUP BY 1, 2, 3, 4),
        |tri AS (SELECT w1, w2, w3, SUM(k) AS cnt FROM dg GROUP BY 1, 2, 3),
        |ctx2 AS (
        |  SELECT w1, w2, SUM(cnt) AS ctx2, COUNT(DISTINCT w3) AS n1p2
        |  FROM tri GROUP BY 1, 2),
        |cbi AS (SELECT w2, w3, COUNT(DISTINCT w1) AS ccnt FROM tri GROUP BY 1, 2),
        |ctx1 AS (
        |  SELECT w2, SUM(ccnt) AS cctx1, COUNT(DISTINCT w3) AS n1p1
        |  FROM cbi GROUP BY 1),
        |cuni AS (SELECT w3, COUNT(DISTINCT w2) AS ucnt FROM cbi GROUP BY 1),
        |s AS (SELECT COUNT(*) AS nn, COUNT(DISTINCT w3) AS ww FROM cbi),
        |v AS (SELECT COUNT(DISTINCT t) AS v FROM (SELECT unnest(l) AS t FROM toks)),
        |j AS (
        |  SELECT dg.doc_id, dg.k, tri.cnt, ctx2.ctx2, ctx2.n1p2,
        |    cbi.ccnt, ctx1.cctx1, ctx1.n1p1, cuni.ucnt
        |  FROM dg
        |  LEFT JOIN tri USING (w1, w2, w3)
        |  LEFT JOIN ctx2 USING (w1, w2)
        |  LEFT JOIN cbi USING (w2, w3)
        |  LEFT JOIN ctx1 USING (w2)
        |  LEFT JOIN cuni USING (w3)),
        |lv1 AS (
        |  SELECT j.*,
        |    greatest(COALESCE(ucnt, 0) - 0.75, 0.0) / (SELECT nn FROM s)
        |      + 0.75 * (SELECT ww FROM s) / (SELECT nn FROM s)
        |        * (1.0 / ((SELECT v FROM v) + 1.0)) AS p1
        |  FROM j),
        |lv2 AS (
        |  SELECT *,
        |    CASE WHEN cctx1 IS NULL THEN p1
        |      ELSE greatest(COALESCE(ccnt, 0) - 0.75, 0.0) / cctx1
        |        + 0.75 * n1p1 / cctx1 * p1 END AS p2
        |  FROM lv1),
        |p AS (
        |  SELECT doc_id, k,
        |    ln(CASE WHEN ctx2 IS NULL THEN p2
        |      ELSE greatest(COALESCE(cnt, 0) - 0.75, 0.0) / ctx2
        |        + 0.75 * n1p2 / ctx2 * p2 END) AS lp
        |  FROM lv2),
        |sc AS (
        |  SELECT doc_id, CAST(SUM(k) AS INTEGER) AS n_trigrams,
        |    ROUND(-SUM(k * lp) / SUM(k), 4) AS cross_entropy
        |  FROM p GROUP BY 1)
        |SELECT d.doc_id,
        |  COALESCE(n_trigrams, 0) AS n_trigrams,
        |  cross_entropy
        |FROM documents d LEFT JOIN sc USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // Same old/new construction and hash-compare semantics as
    // TextOps.corpusDiff (the digest is an execution detail — DuckDB
    // compares the texts directly, which must agree exactly).
    "t21_corpus_diff" ->
      """WITH old AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 400),
        |neu AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text || ' [redacted]' ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 0)
        |SELECT COALESCE(old.doc_id, neu.doc_id) AS doc_id,
        |  CASE
        |    WHEN old.doc_id IS NULL THEN 'added'
        |    WHEN neu.doc_id IS NULL THEN 'removed'
        |    WHEN old.text = neu.text THEN 'unchanged'
        |    ELSE 'changed'
        |  END AS status
        |FROM old FULL OUTER JOIN neu ON old.doc_id = neu.doc_id
        |ORDER BY doc_id""".stripMargin,

    // Same salted URL construction and regexp normalization chain as
    // TextOps.normalizeUrl (DuckDB needs the explicit 'g' flag Spark
    // implies; group refs are \1 vs $1 — same RE2-safe patterns).
    "t20_url_dedup" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 3 AS INTEGER)
        |      WHEN 0 THEN concat('https://www.site', CAST(doc_id // 3 AS VARCHAR),
        |        '.com/path/p?utm_source=x&id=', CAST(doc_id // 3 AS VARCHAR))
        |      WHEN 1 THEN concat('http://site', CAST(doc_id // 3 AS VARCHAR),
        |        '.com:80/path/p?id=', CAST(doc_id // 3 AS VARCHAR), '&utm_campaign=y#frag')
        |      ELSE concat('HTTPS://site', CAST(doc_id // 3 AS VARCHAR),
        |        '.COM/path/p?id=', CAST(doc_id // 3 AS VARCHAR))
        |    END AS url
        |  FROM documents),
        |s1 AS (SELECT doc_id, regexp_replace(trim(url), '^[Hh][Tt][Tt][Pp][Ss]?://', '') AS x FROM u),
        |s2 AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(lower(regexp_extract(x, '^([^/?#]*)', 1)),
        |      '^www\.', ''), ':(80|443)$', '') AS host,
        |    regexp_replace(x, '^[^/?#]*', '') AS rest
        |  FROM s1),
        |s3 AS (
        |  SELECT doc_id, host,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(rest, '#.*$', ''),
        |          '([?&])(?:utm_[a-zA-Z0-9]+|fbclid|gclid)=[^&]*', '\1', 'g'),
        |        '([?&])&+', '\1', 'g'),
        |      '[?&]+$', '') AS q
        |  FROM s2),
        |n AS (SELECT doc_id, host || regexp_replace(q, '/+$', '') AS url_norm FROM s3)
        |SELECT doc_id, url_norm
        |FROM n
        |QUALIFY row_number() OVER (PARTITION BY url_norm ORDER BY doc_id) = 1
        |ORDER BY doc_id""".stripMargin,

    // Same tokenization, "w1 w2" feature key, Laplace smoothing over the
    // union feature space, and ROUND(…,4) as Importance.trainImportanceModel
    // + importanceWeights in exact-gram mode.
    "t17_importance" ->
      """WITH rtoks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS l
        |  FROM documents WHERE doc_id >= 25),
        |ttoks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS l
        |  FROM documents WHERE doc_id < 25),
        |rgrams AS (
        |  SELECT doc_id, g[1] || ' ' || g[2] AS gk
        |  FROM (SELECT doc_id, unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS g
        |        FROM rtoks WHERE len(l) >= 2)),
        |tgrams AS (
        |  SELECT doc_id, g[1] || ' ' || g[2] AS gk
        |  FROM (SELECT doc_id, unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS g
        |        FROM ttoks WHERE len(l) >= 2)),
        |dg AS (SELECT doc_id, gk, COUNT(*) AS k FROM rgrams GROUP BY 1, 2),
        |rc AS (SELECT gk, COUNT(*) AS rcnt FROM rgrams GROUP BY 1),
        |tc AS (SELECT gk, COUNT(*) AS tcnt FROM tgrams GROUP BY 1),
        |model AS (
        |  SELECT gk, COALESCE(rcnt, 0) AS rcnt, COALESCE(tcnt, 0) AS tcnt
        |  FROM rc FULL OUTER JOIN tc USING (gk)),
        |tot AS (SELECT SUM(rcnt) AS rt, SUM(tcnt) AS tt, COUNT(*) AS v FROM model),
        |sc AS (
        |  SELECT dg.doc_id,
        |    CAST(SUM(k) AS INTEGER) AS n_grams,
        |    ROUND(SUM(k * (ln((tcnt + 1.0) / (tt + v)) - ln((rcnt + 1.0) / (rt + v)))), 4)
        |      AS log_weight
        |  FROM dg JOIN model USING (gk) CROSS JOIN tot
        |  GROUP BY dg.doc_id)
        |SELECT d.doc_id,
        |  COALESCE(n_grams, 0) AS n_grams,
        |  log_weight
        |FROM (SELECT doc_id FROM documents WHERE doc_id >= 25) d
        |LEFT JOIN sc USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // Same tokenization and exclusive-prefix-sum shard rule as
    // TextOps.shardByTokenBudget (the range-bucketed execution is a
    // detail; results are the global window's, spec-pinned).
    "t18_token_shards" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(COALESCE(len(string_split_regex(text, '\s+')), 0) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT doc_id, n_tokens,
        |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2048 AS BIGINT) AS shard
        |FROM t
        |ORDER BY doc_id""".stripMargin,

    // Same href pattern (generated from Html), same resolution CASE
    // chain; zipped struct-unnest carries document order.
    "t28_links" -> {
      val sch = "^([A-Za-z][A-Za-z0-9+.-]*):"
      val org = "^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)"
      s"""WITH s AS (
         |  SELECT doc_id,
         |    'https://site' || CAST(doc_id AS VARCHAR) || '.com/dir/page.html' AS base,
         |    '<a href="http://other.com/p">x</a><a href=''//cdn' ||
         |    CAST(doc_id AS VARCHAR) ||
         |    '.net/l.js''>y</a><a href="/root/a">z</a><a href="sub/b.html">w</a><a href="#frag">f</a>' AS page
         |  FROM documents),
         |lu AS (
         |  SELECT doc_id, base,
         |    unnest(list_transform(${Html.duckLinks("page")},
         |      (x, i) -> {'pos': i - 1, 'href': x})) AS u
         |  FROM s),
         |l AS (SELECT doc_id, base, u.pos AS pos, u.href AS href FROM lu)
         |SELECT doc_id, pos, href,
         |  CASE
         |    WHEN regexp_matches(href, '^[A-Za-z][A-Za-z0-9+.-]*:') THEN href
         |    WHEN starts_with(href, '//') THEN regexp_extract(base, '$sch', 1) || ':' || href
         |    WHEN starts_with(href, '/') THEN regexp_extract(base, '$org', 1) || href
         |    ELSE (CASE WHEN regexp_matches(regexp_replace(base, '[?#].*$$', ''), '^[A-Za-z][A-Za-z0-9+.-]*://[^/]*$$')
         |      THEN regexp_replace(base, '[?#].*$$', '') || '/'
         |      ELSE regexp_replace(regexp_replace(base, '[?#].*$$', ''), '[^/]*$$', '') END) || href
         |  END AS resolved
         |FROM l
         |ORDER BY doc_id, pos""".stripMargin
    },

    // Same BM25 form with the same fixed left-to-right contribution sum,
    // per-term ROUND 6, final ROUND 4; constants written as the same
    // float EXPRESSIONS (1.2 + 1.0, not 2.2) so both engines IEEE-add.
    // The indexed probe (t29) reproduces the direct scan's arithmetic
    // bit-for-bit, so ONE oracle gates both — the s05/d06 pattern.
    "t27_bm25_search" -> bm25Oracle,
    "t29_bm25_indexed" -> bm25Oracle,

    // Batched probe: same postings/stats math as bm25Oracle, but each term
    // contribution is rounded to 6 decimals and SCALED TO AN EXACT BIGINT
    // (×10⁶) before the per-(query, doc) sum — the order-free aggregation
    // the Spark side uses — then /10⁶ rounded to 4. df per term is the
    // postings row count (docs containing the term), n/avgdl are the
    // corpus stats (dl sums are whole-number doubles: exact).
    "t31_bm25_batch" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |d AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, toks FROM base),
        |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl FROM d),
        |pu AS (SELECT doc_id, dl, unnest(toks) AS term FROM d),
        |post AS (
        |  SELECT doc_id, dl, term, CAST(COUNT(*) AS DOUBLE) AS tf
        |  FROM pu GROUP BY doc_id, dl, term),
        |qt AS (SELECT * FROM (VALUES
        |  ('q1','window'),('q1','merge'),('q1','scan'),
        |  ('q2','filter'),('q2','join'),('q2','vector'),
        |  ('q3','dup'),('q3','stream')) AS q(query_id, term)),
        |dfs AS (
        |  SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM post
        |  WHERE term IN (SELECT term FROM qt) GROUP BY term),
        |contrib AS (
        |  SELECT qt.query_id, post.doc_id,
        |    CAST(ROUND(ROUND(
        |      ln(1.0 + (st.n - dfs.df + 0.5) / (dfs.df + 0.5)) * post.tf * (1.2 + 1.0)
        |      / (post.tf + 1.2 * (1.0 - 0.75 + 0.75 * post.dl / st.avgdl)), 6)
        |      * 1000000.0) AS BIGINT) AS ci
        |  FROM post JOIN dfs USING (term) JOIN qt USING (term) CROSS JOIN st),
        |sc AS (
        |  SELECT query_id, doc_id,
        |    ROUND(CAST(SUM(ci) AS DOUBLE) / 1000000.0, 4) AS score
        |  FROM contrib GROUP BY query_id, doc_id),
        |topk AS (
        |  SELECT query_id, doc_id, score FROM sc WHERE score > 0
        |  QUALIFY row_number() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, doc_id) <= 10)
        |SELECT query_id, doc_id, score FROM topk
        |ORDER BY query_id, doc_id""".stripMargin,

    // Same stride math: nChunks = ceil(max(n-overlap,1)/stride); 1-based
    // inclusive list_slice ≙ Spark's (start, length) slice.
    "t32_chunks" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, toks, CAST(len(toks) AS INTEGER) AS n
        |  FROM base WHERE len(toks) > 0),
        |c AS (
        |  SELECT doc_id, toks, n,
        |    unnest(range(0, CAST(CEIL(GREATEST(n - 8, 1) / 32.0) AS BIGINT))) AS cid
        |  FROM n),
        |c2 AS (SELECT doc_id, toks, n, CAST(cid AS INTEGER) AS chunk_id FROM c)
        |SELECT doc_id, chunk_id,
        |  array_to_string(list_slice(toks, chunk_id * 32 + 1, chunk_id * 32 + 40), ' ') AS chunk_text,
        |  LEAST(40, n - chunk_id * 32) AS n_tokens
        |FROM c2
        |ORDER BY doc_id, chunk_id""".stripMargin,

    // The same greedy recursion, independently: sentence-end offsets as
    // a per-document list (t26's terminal rule + doc end), then a
    // recursive CTE walks chunk starts — each chunk ends at the max end
    // within budget, falling back to start+40 (an oversized sentence).
    "t60_sentence_chunks" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |nn AS (
        |  SELECT doc_id, toks, CAST(len(toks) AS INTEGER) AS n
        |  FROM base WHERE len(toks) > 0),
        |se AS (
        |  SELECT doc_id, toks, n,
        |    list_sort(list_distinct(list_append(
        |      list_filter(range(1, n + 1),
        |                  i -> regexp_matches(toks[i], '[.!?"”]$')),
        |      CAST(n AS BIGINT)))) AS ends
        |  FROM nn),
        |ch AS (
        |  WITH RECURSIVE r AS (
        |    SELECT doc_id, toks, n, ends, 0 AS chunk_id, 0 AS s,
        |      CAST(COALESCE(list_max(list_filter(ends,
        |        e -> e > 0 AND e <= 40)), 40) AS INTEGER) AS e
        |    FROM se
        |    UNION ALL
        |    SELECT doc_id, toks, n, ends, chunk_id + 1, e AS s,
        |      CAST(COALESCE(list_max(list_filter(ends,
        |        x -> x > e AND x <= e + 40)), e + 40) AS INTEGER) AS e2
        |    FROM r WHERE e < n)
        |  SELECT * FROM r)
        |SELECT doc_id, chunk_id,
        |  array_to_string(list_slice(toks, s + 1, e), ' ') AS chunk_text,
        |  e - s AS n_tokens
        |FROM ch ORDER BY doc_id, chunk_id""".stripMargin,

    // Rendered from the SAME steps/thresholds as the Spark side (the t24
    // lockstep-oracle pattern).
    "t38_main_content" -> {
      val page = Html.duckLit(HtmlSalt.m0) + " || text || " +
        Html.duckLit(HtmlSalt.m1)
      s"""WITH s AS (SELECT doc_id, $page AS page FROM documents)
         |SELECT doc_id, ${Html.duckMainContent("page")} AS content
         |FROM s
         |ORDER BY doc_id""".stripMargin
    },

    // Per-group full-cardinality plan with a windowed group total.
    "t41_heavy_tokens_by_lang" ->
      """WITH t AS (
        |  SELECT lang, UNNEST(string_split(text, ' ')) AS token
        |  FROM documents)
        |SELECT lang, token, cnt FROM (
        |  SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS cnt,
        |    SUM(COUNT(*)) OVER (PARTITION BY lang) AS n
        |  FROM t GROUP BY lang, token)
        |WHERE cnt * 1000000 > 20000 * n
        |ORDER BY lang, token""".stripMargin,

    // The full-cardinality exact plan the fixed-memory operator must
    // reproduce row-for-row: group-by over every token, strict > cut.
    "t40_heavy_tokens" ->
      """WITH t AS (
        |  SELECT UNNEST(string_split(text, ' ')) AS token FROM documents),
        |tot AS (SELECT COUNT(*) AS n FROM t)
        |SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM t, tot GROUP BY token, tot.n
        |HAVING COUNT(*) * 1000000 > 5000 * tot.n
        |ORDER BY token""".stripMargin,

    // Substring containment per phrase, aggregated per doc — the
    // list-size-independent automaton must equal the per-phrase scan.
    "t39_phrase_blocklist" ->
      """WITH p AS (SELECT * FROM (VALUES ('table table'),
        |    ('fast key scan'), ('slow fast')) AS t(phrase))
        |SELECT d.doc_id,
        |  list_aggregate(list_sort(list(p.phrase)), 'string_agg', '|') AS hits,
        |  CAST(count(*) AS INTEGER) AS n_hits
        |FROM documents d JOIN p ON contains(lower(d.text), p.phrase)
        |GROUP BY d.doc_id
        |ORDER BY doc_id""".stripMargin,

    // list_intersect of lowercase tokens vs the list, kept at zero hits.
    "t37_word_blocklist" ->
      """SELECT doc_id,
        |  CAST(len(list_intersect(
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> ''),
        |    ['slow', 'dup'])) AS INTEGER) AS n_blocked
        |FROM documents
        |WHERE len(list_intersect(
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> ''),
        |    ['slow', 'dup'])) = 0
        |ORDER BY doc_id""".stripMargin,

    // Same host parse (scheme strip, leading-www strip, default-port
    // strip, lowercase); suffix-explode equality ≡ "host = dom OR host
    // ends with .dom".
    "t36_url_blocklist" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    'https://' ||
        |    CASE WHEN doc_id % 3 = 0 THEN 'cdn.' ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN 'WWW.' ELSE '' END ||
        |    source || '.example' ||
        |    CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END ||
        |    '/page/' || doc_id AS url
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, source, url,
        |    regexp_replace(regexp_replace(
        |      lower(regexp_extract(
        |        regexp_replace(trim(url), '^[Hh][Tt][Tt][Pp][Ss]?://', ''),
        |        '^([^/?#]*)', 1)),
        |      '^www\.', ''), ':(80|443)$', '') AS host
        |  FROM d)
        |SELECT doc_id, url, source FROM h
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM (VALUES ('src3.example'), ('src7.example')) AS b(dom)
        |  WHERE h.host = b.dom OR h.host LIKE '%.' || b.dom)
        |ORDER BY doc_id""".stripMargin,

    // The per-source mirror of t33: the same bin arithmetic and
    // from-the-top cumulative cut, computed within each source; all-equal
    // groups keep everything via the bin-0 branch.
    "t34_quantile_by_source" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split_regex(text, '\s+')) AS INTEGER) AS n_tokens,
        |    CAST(LENGTH(text) AS DOUBLE) AS n_chars
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, source,
        |    ROUND(LEAST(1.0, CAST(n_tokens AS DOUBLE) / 64.0) *
        |      (CASE WHEN (n_chars - n_tokens + 1.0) / n_tokens >= 3.0
        |             AND (n_chars - n_tokens + 1.0) / n_tokens <= 10.0
        |            THEN 1.0 ELSE 0.5 END), 4) AS score
        |  FROM t),
        |nn AS (SELECT doc_id, source, score FROM s WHERE score IS NOT NULL),
        |mm AS (
        |  SELECT source, MIN(score) AS lo, MAX(score) AS hi,
        |    COUNT(*) AS n
        |  FROM nn GROUP BY source),
        |b AS (
        |  SELECT nn.doc_id, nn.source, nn.score, mm.n,
        |    CASE WHEN mm.lo = mm.hi THEN 0
        |         ELSE LEAST(63, CAST(FLOOR((nn.score - mm.lo) /
        |           ((mm.hi - mm.lo) / 64.0)) AS INTEGER)) END AS bin
        |  FROM nn JOIN mm USING (source)),
        |h AS (
        |  SELECT source, bin, n, COUNT(*) AS c
        |  FROM b GROUP BY source, bin, n),
        |cum AS (
        |  SELECT source, bin, n,
        |    SUM(c) OVER (PARTITION BY source ORDER BY bin DESC) AS cc
        |  FROM h),
        |cut AS (
        |  SELECT source, MAX(bin) AS cutbin FROM cum
        |  WHERE cc >= CEIL(0.4 * n) GROUP BY source)
        |SELECT b.doc_id, b.source, b.score
        |FROM b JOIN cut USING (source)
        |WHERE b.bin >= cut.cutbin
        |ORDER BY doc_id""".stripMargin,

    // t02's quality expression rounded to 4, then the same 64-bin
    // fixed-width histogram: bin = least(63, floor((s-lo)/w)), cut = the
    // highest bin whose from-the-top cumulative count reaches
    // ceil(0.3 × non-null rows), keep bin >= cut. Null scores never
    // survive.
    "t33_quantile_filter" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(text, '\s+')) AS INTEGER) AS n_tokens,
        |    CAST(LENGTH(text) AS DOUBLE) AS n_chars
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    ROUND(LEAST(1.0, CAST(n_tokens AS DOUBLE) / 64.0) *
        |      (CASE WHEN (n_chars - n_tokens + 1.0) / n_tokens >= 3.0
        |             AND (n_chars - n_tokens + 1.0) / n_tokens <= 10.0
        |            THEN 1.0 ELSE 0.5 END), 4) AS score
        |  FROM t),
        |nn AS (SELECT doc_id, score FROM s WHERE score IS NOT NULL),
        |mm AS (SELECT MIN(score) AS lo, MAX(score) AS hi, COUNT(*) AS n FROM nn),
        |b AS (
        |  SELECT doc_id, score,
        |    LEAST(63, CAST(FLOOR((score - lo) / ((hi - lo) / 64.0)) AS INTEGER)) AS bin
        |  FROM nn, mm),
        |h AS (SELECT bin, COUNT(*) AS c FROM b GROUP BY bin),
        |cum AS (SELECT bin, SUM(c) OVER (ORDER BY bin DESC) AS cc FROM h),
        |cut AS (
        |  SELECT MAX(bin) AS cutbin FROM cum
        |  WHERE cc >= (SELECT CEIL(0.3 * n) FROM mm))
        |SELECT doc_id, score FROM b, cut
        |WHERE bin >= cutbin
        |ORDER BY doc_id""".stripMargin,


    // Same salt, same non-blank-line filters and RE2 patterns, fractions
    // rounded to 4 identically.
    "t26_line_stats" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    'First sentence line.' || chr(10) || '- bullet ' ||
        |    CAST(doc_id % 3 AS VARCHAR) || chr(10) || text ||
        |    CASE WHEN doc_id % 4 = 0
        |      THEN chr(10) || 'teaser trails off...' ELSE '' END ||
        |    chr(10) || 'ok' || chr(10) AS ml
        |  FROM documents),
        |l AS (
        |  SELECT doc_id,
        |    list_filter(string_split(ml, chr(10)), x -> trim(x) <> '') AS ls
        |  FROM s)
        |SELECT doc_id,
        |  CAST(len(ls) AS INTEGER) AS n_lines,
        |  ROUND(CAST(len(list_filter(ls, x -> regexp_matches(trim(x), '[.!?"”]$'))) AS DOUBLE) / len(ls), 4) AS frac_end_punct,
        |  ROUND(CAST(len(list_filter(ls, x -> regexp_matches(trim(x), '^[-*•]'))) AS DOUBLE) / len(ls), 4) AS frac_bullet,
        |  ROUND(CAST(len(list_filter(ls, x -> regexp_matches(trim(x), '(\.\.\.|…)$'))) AS DOUBLE) / len(ls), 4) AS frac_ellipsis,
        |  ROUND(CAST(len(list_filter(ls, x -> len(list_filter(string_split_regex(trim(x), ' +'), t -> t <> '')) <= 3)) AS DOUBLE) / len(ls), 4) AS frac_short
        |FROM l
        |ORDER BY doc_id""".stripMargin,

    // Same md5(seed:id) 60-bit order key (Spark conv ≙ DuckDB '0x' cast)
    // and the naive-global-window mirror of the distributed prefix-sum.
    "t25_shuffled_shards" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(COALESCE(len(string_split_regex(text, '\s+')), 0) AS BIGINT) AS n_tokens,
        |    CAST('0x' || substring(md5('r10:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS shuffle_key
        |  FROM documents)
        |SELECT doc_id, n_tokens, shuffle_key,
        |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY shuffle_key, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2048 AS BIGINT) AS shard
        |FROM t
        |ORDER BY doc_id""".stripMargin,

    // Same keep-smallest-ids-per-source semantics as TextOps.sourceQuota
    // (the salted two-phase is an execution detail; results are the naive
    // window's, spec-pinned).
    "t15_source_quota" ->
      """SELECT doc_id, source
        |FROM documents
        |QUALIFY row_number() OVER (PARTITION BY source ORDER BY doc_id) <= 12
        |ORDER BY doc_id""".stripMargin,

    // Same per-doc token/quality/symbol expressions as t02/t10, rolled up
    // per source with the q15 percentile↔quantile_cont mapping; means
    // rounded identically.
    "t16_source_profile" ->
      """WITH t AS (
        |  SELECT source,
        |    CAST(len(string_split_regex(text, '\s+')) AS INTEGER) AS n,
        |    CAST(LENGTH(text) AS DOUBLE) AS nc,
        |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
        |      / GREATEST(CAST(LENGTH(text) AS DOUBLE), 1.0) AS sr
        |  FROM documents),
        |q AS (
        |  SELECT source, n, sr,
        |    LEAST(1.0, CAST(n AS DOUBLE) / 64.0) *
        |      (CASE WHEN (nc - n + 1.0) / n >= 3.0 AND (nc - n + 1.0) / n <= 10.0
        |            THEN 1.0 ELSE 0.5 END) AS ql
        |  FROM t)
        |SELECT source,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n) AS BIGINT) AS tokens_total,
        |  ROUND(quantile_cont(CAST(n AS DOUBLE), 0.5), 4) AS med_tokens,
        |  ROUND(AVG(ql), 4) AS quality_avg,
        |  ROUND(AVG(sr), 4) AS symbol_avg
        |FROM q
        |GROUP BY source
        |ORDER BY source""".stripMargin,

    // Same 24 md5 bits → bucket → split thresholds as TextOps.splitAssign.
    "t07_split" ->
      """SELECT doc_id,
        |  CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |        CAST(('0x' || substring(md5(text), 1, 6)) AS BIGINT) % 100 AS b
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,

    // Same md5-bucket copy count as TextOps.mixCorpus, copies unrolled with
    // generate_series.
    "t09_mixing" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN LENGTH(source) % 2 = 0 THEN 2.3 ELSE 0.4 END AS w,
        |    CAST(('0x' || substring(md5(text), 1, 6)) AS BIGINT) % 10000 AS b
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    CAST(FLOOR(w) + (CASE WHEN b < (w - FLOOR(w)) * 10000 THEN 1 ELSE 0 END)
        |         AS INTEGER) AS n
        |  FROM t)
        |SELECT doc_id, CAST(UNNEST(generate_series(1, n)) AS INTEGER) AS copy
        |FROM c WHERE n > 0
        |ORDER BY doc_id, copy""".stripMargin,

    // The page salt and the whole extraction chain are GENERATED from
    // graft.text.Html's shared step list (the t01 lockstep pattern), so
    // the Spark chain and this SQL cannot drift.
    "t24_html_text" -> {
      val id = "CAST(doc_id AS VARCHAR)"
      val metaOpt = "CASE WHEN doc_id % 5 = 0 THEN " +
        Html.duckLit(HtmlSalt.robotsMeta) + " ELSE '' END"
      val page = Seq(
        Html.duckLit(HtmlSalt.p0), id, Html.duckLit(HtmlSalt.p1a), metaOpt,
        Html.duckLit(HtmlSalt.p1b), id,
        Html.duckLit(HtmlSalt.p2), id, Html.duckLit(HtmlSalt.p3), "text",
        Html.duckLit(HtmlSalt.p4), id, Html.duckLit(HtmlSalt.p5))
        .mkString(" || ")
      s"""WITH s AS (SELECT doc_id, $page AS page FROM documents)
         |SELECT doc_id,
         |  ${Html.duckTitle("page")} AS title,
         |  ${Html.duckText("page")} AS clean,
         |  ${Html.duckNoindex("page")} AS noindex
         |FROM s
         |ORDER BY doc_id""".stripMargin
    },

    // Same salt construction and first-occurrence-keep (blank lines
    // exempt) as TextOps.dropRepeatedLines.
    "t23_dedup_lines" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    'footer nav line' || chr(10) || text || chr(10) || chr(10) ||
        |    'mid ' || CAST(doc_id % 7 AS VARCHAR) || chr(10) ||
        |    'footer nav line' || chr(10) || chr(10) || 'footer nav line' AS ml_text
        |  FROM documents)
        |SELECT doc_id,
        |  array_to_string(
        |    list_filter(string_split(ml_text, chr(10)),
        |      (x, i) -> x = '' OR list_position(string_split(ml_text, chr(10)), x) = i),
        |    chr(10)) AS clean
        |FROM s
        |ORDER BY doc_id""".stripMargin,

    // Same q ∝ p^(1/T) weight formula (ROUND 6 both sides) feeding t09's
    // md5-bucket replication.
    "t22_temperature_mix" ->
      """WITH c AS (SELECT source, COUNT(*) AS cnt FROM documents GROUP BY 1),
        |z AS (SELECT SUM(cnt) AS n, SUM(power(cnt, 0.5)) AS z FROM c),
        |w AS (
        |  SELECT source, ROUND(power(cnt, 0.5) / z * n / cnt, 6) AS weight
        |  FROM c CROSS JOIN z),
        |t AS (
        |  SELECT d.doc_id, w.weight,
        |    CAST(('0x' || substring(md5(d.text), 1, 6)) AS BIGINT) % 10000 AS b
        |  FROM documents d JOIN w USING (source)),
        |cc AS (
        |  SELECT doc_id, weight,
        |    CAST(FLOOR(weight) + (CASE WHEN b < (weight - FLOOR(weight)) * 10000
        |      THEN 1 ELSE 0 END) AS INTEGER) AS n
        |  FROM t)
        |SELECT doc_id, CAST(UNNEST(generate_series(1, n)) AS INTEGER) AS copy, weight
        |FROM cc WHERE n > 0
        |ORDER BY doc_id, copy""".stripMargin,

    // Same prefix-sum packing: bin = floor(tokens-before-doc / 4096).
    "t08_packing" ->
      """WITH t AS (
        |  SELECT source, doc_id,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS toks
        |  FROM documents),
        |p AS (
        |  SELECT source, toks,
        |    CAST(FLOOR((SUM(toks) OVER (PARTITION BY source ORDER BY doc_id) - toks)
        |               / 4096.0) AS BIGINT) AS bin
        |  FROM t)
        |SELECT source, bin, COUNT(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS bin_tokens
        |FROM p
        |GROUP BY source, bin
        |ORDER BY source, bin""".stripMargin,

    "t02_quality" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(text, '\s+')) AS INTEGER) AS n_tokens,
        |    CAST(LENGTH(text) AS DOUBLE) AS n_chars
        |  FROM documents)
        |SELECT doc_id, n_tokens,
        |  LEAST(1.0, CAST(n_tokens AS DOUBLE) / 64.0) *
        |    (CASE WHEN (n_chars - n_tokens + 1.0) / n_tokens >= 3.0
        |           AND (n_chars - n_tokens + 1.0) / n_tokens <= 10.0
        |          THEN 1.0 ELSE 0.5 END) AS quality,
        |  (n_chars - n_tokens + 1.0) / n_tokens AS mean_tok_len
        |FROM t
        |ORDER BY doc_id""".stripMargin,

    "t05_string_ops" ->
      """SELECT doc_id,
        |  UPPER(SUBSTRING(text, 1, 12)) AS head_upper,
        |  CAST(LENGTH(REPLACE(text, 'a', '')) AS INTEGER) AS len_no_a,
        |  CAST(levenshtein(SUBSTRING(text, 1, 15), source) AS INTEGER) AS lev_src,
        |  CONCAT_WS('|', source, lang) AS src_lang
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "t06_token_freq" ->
      """SELECT token, COUNT(*) AS n FROM (
        |  SELECT UNNEST(string_split(text, ' ')) AS token FROM documents) t
        |GROUP BY token
        |ORDER BY n DESC, token
        |LIMIT 50""".stripMargin,

    "t03_tokens" ->
      """SELECT doc_id,
        |  CAST(len(string_split_regex(text, '\s+')) AS INTEGER) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS n_bpe_tokens,
        |  CAST(LENGTH(text) AS INTEGER) AS n_chars_calc
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // Same token-count aggregation and double arithmetic as
    // TextOps.repetitionStats + symbolRatio.
    "t10_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS t
        |  FROM documents),
        |tc AS (
        |  SELECT doc_id, t, COUNT(*) AS c FROM toks GROUP BY doc_id, t),
        |stats AS (
        |  SELECT doc_id,
        |    CAST(MAX(c) AS DOUBLE) AS mx,
        |    CAST(SUM(c) AS DOUBLE) AS n,
        |    CAST(COUNT(*) AS DOUBLE) AS d
        |  FROM tc GROUP BY doc_id),
        |sym AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
        |      / GREATEST(CAST(LENGTH(text) AS DOUBLE), 1.0) AS sr
        |  FROM documents)
        |SELECT s.doc_id,
        |  ROUND(mx / n, 4) AS top_word_ratio,
        |  ROUND(1.0 - d / n, 4) AS dup_word_ratio,
        |  ROUND(sr, 4) AS symbol_ratio
        |FROM stats s JOIN sym USING (doc_id)
        |ORDER BY s.doc_id""".stripMargin,

    // Same token-frequency join-back and integer aggregates as
    // TextOps.rareTokenStats; the one division is rounded identically.
    "t12_rare_tokens" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS t
        |  FROM documents),
        |vocab AS (
        |  SELECT t, COUNT(*) AS freq FROM toks GROUP BY t)
        |SELECT doc_id,
        |  CAST(MIN(freq) AS BIGINT) AS min_tok_freq,
        |  CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |  ROUND(CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |        / CAST(COUNT(*) AS DOUBLE), 4) AS hapax_frac
        |FROM toks JOIN vocab USING (t)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    // Same salt construction and redaction patterns as the Spark side;
    // DuckDB needs the 'g' flag (Spark's regexp_replace is global).
    "t11_pii_redact" ->
      """WITH salted AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |    '@example.com on 10.0.' || CAST(doc_id % 256 AS VARCHAR) ||
        |    '.7 tel +1 555 010 ' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      AS pii_text
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(pii_text,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\+?\d[\d() -]{7,}\d', '<PHONE>', 'g') AS redacted
        |FROM salted
        |ORDER BY doc_id""".stripMargin,

    // t43: the registry replayed end to end — per-run exact counts above
    // the strict cnt·(k+1) > n_run cutoff, merged lower bounds, the exact
    // forfeit bound B = Σ(n_r // (k+1)) added back for the admission cut,
    // and the guaranteed flag on the lower bound alone. All-integer.
    "t43_heavy_over_runs" ->
      """WITH t AS (
        |  SELECT doc_id % 2 AS run, UNNEST(string_split(text, ' ')) AS token
        |  FROM documents),
        |runs AS (SELECT run, COUNT(*) AS n FROM t GROUP BY run),
        |stored AS (
        |  SELECT t.run, token, COUNT(*) AS cnt
        |  FROM t JOIN runs USING (run)
        |  GROUP BY t.run, token, runs.n
        |  HAVING COUNT(*) * 1000 > runs.n),
        |tot AS (SELECT SUM(n) AS n, SUM(n // 1000) AS b FROM runs),
        |merged AS (SELECT token, SUM(cnt) AS cnt_min FROM stored GROUP BY token)
        |SELECT token, CAST(cnt_min AS BIGINT) AS cnt_min,
        |  (cnt_min * 1000000 > 5000 * tot.n)::INT AS guaranteed
        |FROM merged, tot
        |WHERE (cnt_min + tot.b) * 1000000 > 5000 * tot.n
        |ORDER BY token""".stripMargin,

    // t44: dyadic binning via binary-string length (no leading zeros, so
    // length ≡ bit length), merged counts ≡ one-pass (addition), smallest
    // bin whose cumulative count reaches ⌈q·N⌉, dyadic [lo, hi] bounds
    // with the bin-63 hi special case mirrored.
    "t44_length_quantiles" ->
      """WITH v AS (
        |  SELECT source AS grp, length(text) AS val
        |  FROM documents WHERE text IS NOT NULL),
        |b AS (
        |  SELECT grp,
        |    CASE WHEN val < 0 THEN -1 WHEN val = 0 THEN 0
        |         ELSE length(format('{:b}', val)) END AS bin,
        |    COUNT(*) AS cnt
        |  FROM v GROUP BY 1, 2),
        |c AS (
        |  SELECT grp, bin,
        |    SUM(cnt) OVER (PARTITION BY grp ORDER BY bin) AS cum,
        |    SUM(cnt) OVER (PARTITION BY grp) AS n
        |  FROM b),
        |q AS (SELECT UNNEST([250000, 500000, 900000]) AS q_ppm),
        |sel AS (
        |  SELECT grp, q_ppm, MIN(bin) AS bin
        |  FROM c, q WHERE cum * 1000000 >= q_ppm * n
        |  GROUP BY grp, q_ppm)
        |SELECT grp AS "group", CAST(q_ppm AS BIGINT) AS q_ppm,
        |  CAST(bin AS INTEGER) AS bin,
        |  CASE WHEN bin = -1 THEN NULL WHEN bin = 0 THEN 0
        |       ELSE (1::BIGINT << (bin - 1)) END AS lo,
        |  CASE WHEN bin = -1 THEN NULL WHEN bin = 0 THEN 0
        |       WHEN bin = 63 THEN 9223372036854775807
        |       ELSE (1::BIGINT << bin) - 1 END AS hi
        |FROM sel
        |ORDER BY "group", q_ppm""".stripMargin,

    // t45: PSI + L1 between the two eras' dyadic histograms — counts are
    // integers up to the division, probabilities add-one smoothed over
    // the union bin set (bins occupied by either era == the registries'
    // full-outer join), ln summed then ROUND 4 (t13 precedent).
    "t45_length_drift" ->
      """WITH v AS (
        |  SELECT source AS grp, (doc_id < 250) AS era_a, length(text) AS val
        |  FROM documents WHERE text IS NOT NULL),
        |b AS (
        |  SELECT grp,
        |    CASE WHEN val < 0 THEN -1 WHEN val = 0 THEN 0
        |         ELSE length(format('{:b}', val)) END AS bin,
        |    SUM(CASE WHEN era_a THEN 1 ELSE 0 END) AS ca,
        |    SUM(CASE WHEN era_a THEN 0 ELSE 1 END) AS cb
        |  FROM v GROUP BY 1, 2),
        |t AS (
        |  SELECT grp, SUM(ca) AS na, SUM(cb) AS nb, COUNT(*) AS bins
        |  FROM b GROUP BY grp),
        |p AS (
        |  SELECT b.grp,
        |    (ca + 1.0) / (na + bins) AS pa,
        |    (cb + 1.0) / (nb + bins) AS pb
        |  FROM b JOIN t ON b.grp = t.grp)
        |SELECT grp AS "group",
        |  ROUND(SUM((pa - pb) * ln(pa / pb)), 4) AS psi,
        |  ROUND(SUM(ABS(pa - pb)), 4) AS l1
        |FROM p GROUP BY grp
        |ORDER BY "group"""".stripMargin,

    // t46: the grouped registry replayed — per-(run, lang) exact counts
    // above the strict cnt·(k+1) > n_run,lang cutoff, merged per lang
    // with the group's own forfeit bound added back for admission.
    "t46_heavy_by_lang_over_runs" ->
      """WITH t AS (
        |  SELECT doc_id % 2 AS run, lang,
        |    UNNEST(string_split(text, ' ')) AS token
        |  FROM documents),
        |runs AS (SELECT run, lang, COUNT(*) AS n FROM t GROUP BY run, lang),
        |stored AS (
        |  SELECT t.run, t.lang, token, COUNT(*) AS cnt
        |  FROM t JOIN runs ON t.run = runs.run AND t.lang = runs.lang
        |  GROUP BY t.run, t.lang, token, runs.n
        |  HAVING COUNT(*) * 100 > runs.n),
        |tot AS (
        |  SELECT lang, SUM(n) AS n, SUM(n // 100) AS b
        |  FROM runs GROUP BY lang),
        |merged AS (
        |  SELECT lang, token, SUM(cnt) AS cnt_min
        |  FROM stored GROUP BY lang, token)
        |SELECT m.lang AS "group", token, CAST(cnt_min AS BIGINT) AS cnt_min,
        |  (cnt_min * 1000000 > 20000 * tot.n)::INT AS guaranteed
        |FROM merged m JOIN tot ON m.lang = tot.lang
        |WHERE (cnt_min + tot.b) * 1000000 > 20000 * tot.n
        |ORDER BY "group", token""".stripMargin,

    // t47: the Count–Min registry replayed one-pass (merge is exact
    // addition, so run-splitting is invisible to the merged matrix):
    // key64 = (stringhash(t, seedHi) << 32) | stringhash(t, seedLo), cell
    // r's slot = xxh64(r, xxh64(key64, 42)) & (width−1), counters summed
    // per (lang, row, slot), estimate = min over the 4 probed cells
    // (missing cell → 0). All-integer.
    "t47_cms_over_runs" ->
      (OracleHashLib.preamble +
        s"""WITH t AS (
          |  SELECT lang, UNNEST(string_split(text, ' ')) AS token
          |  FROM documents),
          |allk AS MATERIALIZED (
          |  SELECT token, ${OracleHashLib.key64Sql("token")} AS k
          |  FROM (SELECT DISTINCT token FROM t
          |        UNION
          |        SELECT 'zz_absent_' || lang AS token
          |        FROM (SELECT DISTINCT lang FROM documents))),
          |${OracleHashLib.xxh64StagedCtes("a", "allk", Seq("token"),
             "k", "42", "h1")},
          |xr AS (
          |  SELECT token, h1, UNNEST([0, 1, 2, 3])::BIGINT AS r FROM ax4),
          |${OracleHashLib.xxh64StagedCtes("b", "xr", Seq("token", "r"),
             "g_us(r)", "h1", "h2")},
          |slots AS MATERIALIZED (
          |  SELECT token, r, (h2 & 1023)::BIGINT AS slot FROM bx4),
          |cnts AS (SELECT lang, token, COUNT(*) AS c FROM t GROUP BY 1, 2),
          |cells AS (
          |  SELECT lang, r, slot, SUM(c) AS cnt
          |  FROM cnts JOIN slots USING (token)
          |  GROUP BY 1, 2, 3),
          |probes AS (
          |  SELECT DISTINCT lang, token FROM t
          |  UNION ALL
          |  SELECT lang, 'zz_absent_' || lang AS token
          |  FROM (SELECT DISTINCT lang FROM documents)),
          |pe AS (
          |  SELECT p.lang, p.token, s.r, s.slot
          |  FROM probes p JOIN slots s USING (token))
          |SELECT pe.lang AS "group", pe.token,
          |  CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS cnt_est
          |FROM pe LEFT JOIN cells c
          |  ON c.lang = pe.lang AND c.r = pe.r AND c.slot = pe.slot
          |GROUP BY 1, 2
          |ORDER BY "group", pe.token""".stripMargin),

    // t48: same smoothed-IDF arithmetic, ROUND 4 before the rank (the t13
    // ln parity precedent), DESC-score/ASC-token total order mirrored.
    "t48_keywords" ->
      """WITH t AS (
        |  SELECT doc_id, UNNEST(string_split_regex(text, '\s+')) AS token
        |  FROM documents),
        |tt AS (
        |  SELECT doc_id, token, COUNT(*) AS tf
        |  FROM t WHERE token <> '' GROUP BY 1, 2),
        |dfq AS (SELECT token, COUNT(*) AS dfc FROM tt GROUP BY 1),
        |n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
        |scored AS (
        |  SELECT doc_id, token,
        |    ROUND(tf * ln((n.n + 1) / (dfc + 1.0)), 4) AS score
        |  FROM tt JOIN dfq USING (token), n),
        |rk AS (
        |  SELECT doc_id, token, score,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |                       ORDER BY score DESC, token) AS rank
        |  FROM scored)
        |SELECT doc_id, CAST(rank AS INTEGER) AS rank, token, score
        |FROM rk WHERE rank <= 5
        |ORDER BY doc_id, rank""".stripMargin,

    // t49: the whole fixText chain replayed — salt literals, the cp1252
    // byte model, and the strip class are all GENERATED from the same
    // Scala sources as the Spark side (the t01/t24 no-drift discipline);
    // strict UTF-8 validity is the RFC-3629 grammar as a regex over the
    // hex byte string (DuckDB 1.0 has no TRY(), so decode() is guarded
    // by the validator, with CASE's lazy branches keeping it safe).
    "t49_fix_text" -> fixTextOracle
  )

  /** t49's salt variants as code-point sequences — ONE definition feeds
    * the Spark `lit` strings and the oracle's chr() compositions. Each
    * exercises a distinct fixText behavior (see the query comment).
    */
  private[queries] object FixSalt {
    val variants: Seq[Seq[Int]] = Seq(
      Seq[Int]('C', 'a', 'f', 0xC3, 0xA9),                  // 2-byte mojibake
      Seq[Int]('d', 'o', 'n', 0xE2, 0x20AC, 0x2122, 't'),   // cp1252 3-byte
      Seq[Int]('n', 'a', 0xC3, 0xAF, 'v', 'e'),             // naÃ¯ve
      Seq[Int]('R', 'e', 's', 'u', 'm', 'e', 'e', 0x0301),  // NFC composes
      Seq[Int]('A', 0x200B, 'B', 0x0D, 0x0A, 'C'),          // strip + CRLF
      Seq[Int]('p', 'l', 'a', 'i', 'n'),                    // ASCII identity
      Seq[Int]('C', 'a', 'f', 0xE9, ' ', '2', '5', 0xB0, 'C'), // REAL latin-1
      Seq[Int]('q', 0xE2, 0x80, 0x99, 's'))                 // raw-C1 mojibake
  }

  private def fixTextOracle: String = {
    val n = FixSalt.variants.size
    val arms = FixSalt.variants.zipWithIndex.map { case (v, i) =>
      s"WHEN $i THEN ${v.map(cp => s"chr($cp)").mkString(" || ")}"
    }.mkString(" ")
    val specials = TextOps.Cp1252Specials.map { case (cp, b) =>
      s"WHEN c = $cp THEN $b"
    }.mkString(" ")
    val strip = "[" + TextOps.StripRanges.map { case (lo, hi) =>
      if (lo == hi) f"\\x{$lo%04X}" else f"\\x{$lo%04X}-\\x{$hi%04X}"
    }.mkString + "]"
    val valid = "^(?:[0-7][0-9a-f]" +
      "|(?:c[2-9a-f]|d[0-9a-f])[89ab][0-9a-f]" +
      "|e0[ab][0-9a-f][89ab][0-9a-f]" +
      "|e[1-9a-c][89ab][0-9a-f][89ab][0-9a-f]" +
      "|ed[89][0-9a-f][89ab][0-9a-f]" +
      "|e[ef][89ab][0-9a-f][89ab][0-9a-f]" +
      "|f0[9ab][0-9a-f][89ab][0-9a-f][89ab][0-9a-f]" +
      "|f[1-3][89ab][0-9a-f][89ab][0-9a-f][89ab][0-9a-f]" +
      "|f48[0-9a-f][89ab][0-9a-f][89ab][0-9a-f])*$"
    OracleHashLib.preamble +
      s"""WITH input AS (
        |  SELECT doc_id,
        |    (CASE (doc_id % $n) $arms END) || ' ' || text AS text
        |  FROM documents),
        |chars AS (
        |  SELECT doc_id, unnest(g_codes(text)) AS c,
        |         generate_subscripts(g_codes(text), 1) AS i
        |  FROM input),
        |bytes AS (
        |  SELECT doc_id, i,
        |    CASE WHEN c <= 255 THEN c $specials ELSE -1 END AS b
        |  FROM chars),
        |hx AS (
        |  SELECT doc_id,
        |    string_agg(substr('0123456789abcdef', greatest(b, 0) // 16 + 1, 1)
        |      || substr('0123456789abcdef', greatest(b, 0) % 16 + 1, 1),
        |      '' ORDER BY i) AS hex,
        |    min(b) AS minb
        |  FROM bytes GROUP BY doc_id),
        |rep AS (
        |  SELECT input.doc_id,
        |    CASE WHEN hx.hex IS NOT NULL AND hx.minb >= 0
        |           AND regexp_matches(hx.hex, '$valid')
        |         THEN decode(from_hex(hx.hex)) ELSE input.text END AS t1
        |  FROM input LEFT JOIN hx USING (doc_id))
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(nfc_normalize(t1), '\\r\\n|\\r',
        |    chr(10), 'g'), '$strip', '', 'g') AS fixed
        |FROM rep ORDER BY doc_id""".stripMargin
  }
}

/** Deterministic HTML page salt for t24 — one definition feeding both the
  * Spark `concat` and the generated DuckDB SQL, interleaved as
  * p0·id·p1·id·p2·id·p3·text·p4·id·p5. Exercises: comment, head-dropped
  * title/style/script (with tag-looking embedded strings), block
  * structure, a table, a stripped inline tag, and the entity set
  * including a double-encoded `&amp;lt;` that must decode exactly once.
  */
private[queries] object HtmlSalt {
  // t38 main-content page: link-only nav (short → dropped), the doc text
  // with one inline link (long, low density → KEPT), a long link-farm
  // block (≥ minBlockChars but density ≈ 1 → dropped), a short closer
  // and a link footer (dropped)
  val m0 = "<html><head><title>ignored</title></head><body>" +
    "<div class=\"nav\"><a href=\"/\">Home</a> <a href=\"/a\">About</a> " +
    "<a href=\"/c\">Contact</a></div><p>"
  val m1 = " with an <a href=\"/ref\">inline reference</a> and trailing " +
    "prose that keeps the link density low enough to keep this block." +
    "</p><p><a href=\"/1\">Read this related article now</a> " +
    "<a href=\"/2\">Another related article to read</a> " +
    "<a href=\"/3\">Yet more recommended reading right here</a></p>" +
    "<p>A short closing line.</p><footer><a href=\"/terms\">Terms</a> " +
    "<a href=\"/privacy\">Privacy</a></footer></body></html>"
  val p0 = "<html><!-- crawl-id "
  val p1a = " --><head>"
  val robotsMeta = "<meta content=\"noindex, nofollow\" name=\"robots\">"
  val p1b = "<title>Doc &amp; &#8482; "
  val p2 = " &ndash; site</title><style type=\"text/css\">p > a{color:red}" +
    "</style><script>if(x){document.write(\"<p>hi</p>\");}</script></head>" +
    "<body><h1>Heading "
  val p3 = "</h1>\n<p>"
  // numeric-reference exercises (round 11): decimal + hex + uppercase-X
  // refs decode; the double-encoded `&amp;#60;` and the amp-deferred
  // `&#038;amp;` must decode exactly ONCE; a lone surrogate and an
  // out-of-BMP code pass through; `&#160;` lands as a plain space
  val p4 = "&nbsp;tail &lt;tag&gt; &amp;lt; &copy; em&#8212;dash &#x2713; " +
    "&#X41;row &amp;#60;once &#038;amp;later &#xD800;keep &#999999;big " +
    "&#160;gap "
  val p5 = "</p><div class=\"nav\"><ul><li>Home</li><li>About</li></ul>" +
    "</div><table><tr><td>cell a</td><td>b &rdquo;q&rdquo;</td></tr>" +
    "</table><br/><a href=\"/x?a=1&amp;b=2\">link text</a></body></html>"
}
