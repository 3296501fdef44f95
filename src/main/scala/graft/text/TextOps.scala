package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM training-data pipelines: token counting,
  * quality scoring, language ID, and fingerprinting over a text column.
  *
  * Everything except the fingerprint is composed from native (codegen'd or
  * vectorized) Spark SQL functions — no UDF in the scan→filter hot path —
  * so these run at full columnar speed over a 100 TB documents table.
  */
object TextOps {

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(split(text, "\\s+"))

  /** BPE-ish subword-boundary token count: alpha runs, digit runs, and
    * individual punctuation marks (the usual pre-tokenizer regex shape).
    */
  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))

  /** Mean token length implied by text length and token count. */
  def meanTokenLen(text: Column): Column = {
    val n = tokenCount(text).cast("double")
    (length(text).cast("double") - n + lit(1.0)) / n
  }

  /** Heuristic quality score in [0,1]: saturating token-count credit times
    * a penalty when mean token length is outside the natural-language band.
    */
  def qualityScore(text: Column): Column = {
    val n = tokenCount(text).cast("double")
    val lenCredit = least(lit(1.0), n / lit(64.0))
    val mtl = meanTokenLen(text)
    val shapePenalty = when(mtl >= 3.0 && mtl <= 10.0, lit(1.0)).otherwise(lit(0.5))
    lenCredit * shapePenalty
  }

  // Tiny per-language stopword lists for the n-gram/stopword heuristic,
  // drawn from public most-frequent-function-word lists. List ORDER is the
  // tie-break (earlier wins), so the four original languages keep priority.
  // (graft-visible so the DuckDB oracle SQL is generated from the same
  // lists — widening this table widens t01's oracle in lockstep, and the
  // fused langQuality kernel derives its hash sets from it too.)
  private[graft] val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "of", "and", "to", "in", "is", "that", "it", "was", "for", "with", "on", "as", "are"),
    "fr" -> Seq("le", "la", "les", "de", "des", "et", "en", "un", "une", "du", "que", "est", "dans", "pour"),
    "es" -> Seq("el", "la", "los", "las", "de", "y", "en", "un", "una", "del", "que", "es", "por", "con"),
    "de" -> Seq("der", "die", "das", "und", "in", "den", "von", "zu", "mit", "ist", "des", "im", "ein", "auf"),
    "it" -> Seq("il", "di", "che", "la", "per", "una", "sono", "con", "non", "del", "gli", "anche", "come", "della"),
    "pt" -> Seq("o", "de", "que", "do", "da", "em", "um", "para", "com", "não", "uma", "os", "as", "mais"),
    "nl" -> Seq("de", "het", "een", "van", "en", "in", "is", "dat", "op", "te", "zijn", "met", "voor", "niet"),
    "sv" -> Seq("och", "att", "det", "som", "en", "på", "är", "av", "för", "med", "till", "den", "har", "inte"),
    "da" -> Seq("og", "i", "at", "det", "en", "den", "til", "er", "som", "på", "de", "med", "ikke", "af"),
    "fi" -> Seq("ja", "on", "ei", "että", "oli", "se", "hän", "mutta", "niin", "kuin", "myös", "joka", "sen", "ovat"),
    "pl" -> Seq("i", "w", "nie", "na", "się", "z", "do", "to", "że", "jest", "jak", "po", "co", "tak"),
    "ru" -> Seq("и", "в", "не", "на", "что", "он", "с", "как", "это", "по", "его", "но", "она", "из"),
    "tr" -> Seq("bir", "ve", "bu", "da", "için", "ile", "ne", "ki", "ama", "gibi", "çok", "daha", "var", "ben"),
    "ro" -> Seq("și", "de", "la", "cu", "un", "în", "este", "pe", "care", "mai", "din", "să", "nu", "sau"),
    "cs" -> Seq("a", "se", "na", "je", "že", "v", "to", "s", "z", "do", "o", "ale", "jako", "pro"),
    "id" -> Seq("yang", "dan", "di", "itu", "dengan", "untuk", "tidak", "ini", "dari", "dalam", "akan", "pada", "juga", "saya"))

  /** Stopword-vote + script-ratio language ID. Returns the code of the
    * highest-voting language in [[stopwords]] (16 languages across Latin
    * and Cyrillic scripts), a script call for the space-free CJK
    * languages — "ko" on Hangul-syllable density, "ja" on kana density
    * (kana is what separates Japanese from Chinese text, which shares the
    * Han range), "zh" on Han density — or "und" when no signal.
    *
    * Pure column expression: tokens are matched against literal stopword
    * arrays with a higher-order `filter`, script densities via regexp
    * counts — no UDF, no shuffle.
    */
  def langId(text: Column): Column = {
    val toks = split(lower(text), "\\s+")
    val counts = stopwords.map { case (lang, words) =>
      lang -> size(filter(toks, t => array_contains(lit(words.toArray), t)))
    }
    val len = greatest(length(text).cast("double"), lit(1.0))
    val cjk = regexp_count(text, lit("[\\x{4E00}-\\x{9FFF}]")).cast("double") / len
    val kana = regexp_count(text, lit("[\\x{3040}-\\x{30FF}]")).cast("double") / len
    val hangul = regexp_count(text, lit("[\\x{AC00}-\\x{D7A3}]")).cast("double") / len
    val cs = counts.map(_._2)
    val best = greatest(cs: _*)
    val vote = counts.foldRight(lit("und")) { case ((lang, c), acc) =>
      when(c === best, lit(lang)).otherwise(acc)
    }
    when(hangul > 0.25, lit("ko"))
      .when(kana > 0.10, lit("ja"))
      .when(cjk > 0.25, lit("zh"))
      .when(best === 0, lit("und")).otherwise(vote)
  }

  /** Mixed-language document segmentation — the multilingual-crawl
    * splitter: a page that interleaves languages (boilerplate in one,
    * content in another; forum quotes; parallel translations) should not
    * be gated or routed under ONE language label. Each line gets the
    * [[langId]] vote, consecutive same-language lines merge into a
    * segment, and the result is one row per (doc, segment) with the
    * language, first line number, and line count — ready for per-language
    * routing, per-segment quality gating, or dropping the navigation
    * language while keeping the content language.
    *
    * Scale shape: explode to lines (row-local), the FUSED [[langQuality]]
    * kernel per line — not the [[langId]] column expression, whose
    * higher-order stopword filters evaluate interpreted and cost ~60×
    * the one tokenization pass of real work (the documented reason the
    * fused kernel exists; the two are spec-pinned vote-identical, and
    * ScaleBench, since deleted, measured the expression form at 204 s vs
    * ~3 s fused for 175k lines) — then ONE per-document window (lag +
    * running sum — partitioned on the doc id, never a hot key) and a partial-agg
    * group-by on (doc, segment). Null text yields no rows, the explode
    * convention.
    */
  def langSegments(df: org.apache.spark.sql.DataFrame, textCol: String,
                   idCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(idCol)).orderBy("line_no")
    df.select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("line_no", "line")))
      .withColumn("lang", langQuality(col("line")).getField("_1"))
      // a segment break is a null-safe language change vs the previous line
      .withColumn("new_seg",
        when(lag(col("lang"), 1).over(w) <=> col("lang"), lit(0))
          .otherwise(lit(1)))
      .withColumn("seg_id", (sum("new_seg").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)) - 1)
        .cast("int"))
      .groupBy(col(idCol), col("seg_id"), col("lang"))
      .agg(min("line_no").as("start_line"), count(lit(1)).as("n_lines"))
  }

  /** Per-document language PURITY — the gate signal [[langSegments]]
    * exists to feed: the document's dominant per-line language, its line
    * count, the dominant-language line count, and the integral-ppm
    * purity. A multilingual page (navigation in one language, content in
    * another) scores well below 10⁶; a curation pipeline thresholds on
    * purity_ppm instead of trusting the whole-document vote. Dominance
    * ties break by (count DESC, lang ASC) — deterministic on any engine.
    * Same scale shape as langSegments: row-local explode + fused vote,
    * one per-document window over ≤ |langs| count rows.
    */
  def langPurity(df: org.apache.spark.sql.DataFrame, textCol: String,
                 idCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df
      .select(col(idCol),
        explode(split(col(textCol), "\n")).as("line"))
      .withColumn("lang", langQuality(col("line")).getField("_1"))
      .groupBy(col(idCol), col("lang"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("cnt").desc, col("lang"))
    counts
      .withColumn("__r", row_number().over(w))
      .withColumn("n_lines", sum("cnt").over(Window.partitionBy(col(idCol))))
      .filter(col("__r") === 1)
      .select(col(idCol), col("lang").as("dominant_lang"),
        col("n_lines"), col("cnt").as("n_dominant"),
        expr("cnt * CAST(1000000 AS BIGINT) div n_lines").as("purity_ppm"))
  }

  /** One-row corpus HEALTH snapshot — the numbers an operator glances at
    * before and after every pipeline run: document/null counts, total
    * whitespace tokens, mean tokens per doc, source/language
    * cardinalities, and the language-distribution Shannon entropy in
    * nats (0 = monolingual; ln(k) = uniform over k) — the one scalar
    * that flags "this crawl slice lost its language mix" at a glance.
    * Entropy terms sum then ROUND 4 (the t13/t45 cross-engine ln
    * convention); every other column is exact integers or one IEEE
    * division of exact integers.
    *
    * Scale shape: one scan with map-side partial aggregation for the
    * scalar counters, one ≤|langs| skeleton aggregate for the entropy,
    * and a 1×1 broadcast cross join to stitch the row — nothing keyed,
    * nothing hot.
    */
  def corpusHealth(df: org.apache.spark.sql.DataFrame, textCol: String,
                   langCol: String, sourceCol: String):
      org.apache.spark.sql.DataFrame = {
    val toks = size(filter(split(col(textCol), "\\s+"), t => t =!= ""))
    val base = df.agg(
      count(lit(1)).as("n_docs"),
      sum(when(col(textCol).isNull, 1L).otherwise(0L)).as("n_null_text"),
      sum(coalesce(toks.cast("long"), lit(0L))).as("n_tokens"),
      countDistinct(col(sourceCol)).as("n_sources"),
      countDistinct(col(langCol)).as("n_langs"))
      .withColumn("mean_tokens",
        round(col("n_tokens").cast("double") / col("n_docs"), 4))
    val langTotal = df.filter(col(langCol).isNotNull)
      .agg(count(lit(1)).as("__nl"))
    val entropy = df.filter(col(langCol).isNotNull)
      .groupBy(col(langCol)).agg(count(lit(1)).as("__c"))
      .crossJoin(broadcast(langTotal))
      .select((col("__c").cast("double") / col("__nl")).as("__p"))
      .agg(round(sum(-col("__p") * log(col("__p"))), 4).as("lang_entropy"))
    base.crossJoin(broadcast(entropy))
  }

  private val WS = java.util.regex.Pattern.compile("\\s+")
  private val langCodes: Array[String] = stopwords.map(_._1).toArray
  // token → bitmask of languages whose stopword list contains it: the
  // fused kernel pays ONE hash lookup per token regardless of how many
  // languages the table grows to (a per-language set probe made the gate
  // cost linear in language count — 4× when the table went 4 → 16)
  private val stopMask: java.util.HashMap[String, Long] = {
    val m = new java.util.HashMap[String, Long]
    for (((_, ws), li) <- stopwords.zipWithIndex; w <- ws)
      m.put(w, m.getOrDefault(w, 0L) | (1L << li))
    m
  }

  /** Fused one-pass `(lang, quality)` struct — the exact semantic twin of
    * [[langId]] and [[qualityScore]], verified field-for-field by spec.
    *
    * Exists because the composed form is quadratically wasteful inside a
    * gate: Catalyst inlines the full langId/qualityScore expression trees
    * into EVERY reference (the gate filter plus each projection), and the
    * stopword vote's higher-order `filter` lambdas evaluate interpreted —
    * profiling the curation gate at sf0.1 measured ~1.1 s for what is one
    * tokenization pass of actual work (~0.1 s). This kernel tokenizes once,
    * counts all stopword lists, CJK density, and the quality shape in a
    * single loop per document. [[langId]]/[[qualityScore]] remain the
    * oracle-checkable column-expression forms (t01/t02).
    *
    * Split semantics match Spark's `split(_, "\\s+")` (limit −1: trailing
    * empty tokens KEPT); char counts are code points (Spark `length`).
    */
  def langQuality(text: Column): Column = langQualityUdf(text)

  private lazy val langQualityUdf = udf { (s: String) =>
    // null text: langId's when-chain falls through every null condition to
    // "und", and qualityScore's null-skipping least() gives 1.0 × the 0.5
    // shape fallback — verified against the column forms, spec-pinned
    if (s == null) ("und", 0.5)
    else {
      val toks = WS.split(s, -1)
      val nLangs = langCodes.length
      val counts = new Array[Int](nLangs)
      var i = 0
      while (i < toks.length) {
        val t = toks(i).toLowerCase(java.util.Locale.ROOT)
        val mask = stopMask.getOrDefault(t, 0L)
        if (mask != 0L) {
          var m = mask
          while (m != 0L) {
            counts(java.lang.Long.numberOfTrailingZeros(m)) += 1
            m &= m - 1
          }
        }
        i += 1
      }
      var chars = 0
      var cjkN = 0
      var kanaN = 0
      var hangulN = 0
      var ci = 0
      while (ci < s.length) {
        val cp = s.codePointAt(ci)
        if (cp >= 0x4E00 && cp <= 0x9FFF) cjkN += 1
        else if (cp >= 0x3040 && cp <= 0x30FF) kanaN += 1
        else if (cp >= 0xAC00 && cp <= 0xD7A3) hangulN += 1
        chars += 1
        ci += Character.charCount(cp)
      }
      var best = 0
      var l = 0
      while (l < nLangs) { if (counts(l) > best) best = counts(l); l += 1 }
      val denom = math.max(chars.toDouble, 1.0)
      val cjk = cjkN.toDouble / denom
      val kana = kanaN.toDouble / denom
      val hangul = hangulN.toDouble / denom
      val lang =
        if (hangul > 0.25) "ko"
        else if (kana > 0.10) "ja"
        else if (cjk > 0.25) "zh"
        else if (best == 0) "und"
        else {
          var k = 0
          var out: String = null
          while (out == null && k < nLangs) {
            if (counts(k) == best) out = langCodes(k)
            k += 1
          }
          out
        }
      val n = toks.length.toDouble
      val lenCredit = math.min(1.0, n / 64.0)
      val mtl = (chars.toDouble - n + 1.0) / n
      val shape = if (mtl >= 3.0 && mtl <= 10.0) 1.0 else 0.5
      (lang, lenCredit * shape)
    }
  }

  /** Deterministic train/val/test assignment from a stable content hash.
    * md5 on purpose (not xxhash/murmur): any engine, language, or later
    * re-run reproduces the exact same split — the property that keeps a
    * training corpus's held-out set stable across pipeline rewrites. Uses
    * 24 hash bits → bucket in [0,100); pure column expression, no UDF.
    */
  def splitAssign(text: Column, trainPct: Int = 90, valPct: Int = 5): Column = {
    val bucket = pmod(conv(substring(md5(text.cast("binary")), 1, 6), 16, 10)
      .cast("long"), lit(100))
    when(bucket < trainPct, lit("train"))
      .when(bucket < trainPct + valPct, lit("val"))
      .otherwise(lit("test"))
  }

  /** Sequential sequence-packing: concatenate each group's documents in
    * `orderCol` order and cut the stream into `binTokens`-token context
    * windows — every doc is assigned the bin where it starts
    * (`floor(tokens-before-this-doc / binTokens)`). Adds `__toks` and
    * `bin`. One shuffle (the group window); the prefix sum is the same
    * analytic window any engine runs, so packing plans are auditable and
    * oracle-checkable.
    */
  def packBins(df: org.apache.spark.sql.DataFrame, groupCol: String, orderCol: String,
               textCol: String, binTokens: Int): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(orderCol)
    df.withColumn("__toks", tokenCount(col(textCol)))
      .withColumn("bin",
        floor((sum(col("__toks")).over(w) - col("__toks")) / lit(binTokens.toDouble))
          .cast("long"))
  }

  /** GLOBAL deterministic token-budget sharding — the training-data
    * writer's layout step: order the corpus by `idCol`, cut the token
    * stream into `shardTokens`-token shards, and tag each document with
    * the shard where it starts (`tokens-before-this-doc div shardTokens`).
    * Adds `n_tokens` and `shard`; `df.write.partitionBy("shard")` is then
    * the writer. Same math as [[packBins]] with one global group — but
    * that shape routes the whole corpus through ONE window task, so this
    * runs the classic distributed prefix-sum instead:
    *
    *  1. one approx-quantile pass over `idCol` picks ≤ `parts`−1
    *     order-compatible range boundaries (driver holds the doubles —
    *     boundary PLACEMENT only affects which task computes a row, never
    *     the result);
    *  2. per-bucket token totals (one partial-aggregated scan, ≤ `parts`
    *     rows collected) prefix-sum into exclusive bucket offsets on the
    *     driver;
    *  3. the within-bucket window (partitioned, bounded) plus the
    *     broadcast offset closes the global exclusive cumulative sum.
    *
    * Three scans total, every stage bounded by `parts` (defaults to the
    * session's shuffle parallelism), worst task = one bucket — the shape
    * that survives a 10¹⁰-document corpus. Deterministic and
    * partitioning-invariant: results are the single-window plan's exactly
    * (spec-pinned at several `parts`), null text counts 0 tokens. The
    * ordering column (`orderCol`, else `idCol`) must be NUMERIC — the
    * range-boundary pass is an approxQuantile; string ids need a numeric
    * surrogate key (loudly require'd, not a runtime analysis error).
    */
  /** Deterministic per-group (stratified) sample: the `n` rows of each
    * group with the smallest `(key64(id), id)` — a hash-order carve-out,
    * the balanced eval-set / per-stratum inspection op. Hashing the id
    * scrambles any correlation between id order and content (crawl ids
    * are assigned by time and host, so "first n per group" would be a
    * badly biased sample), while staying a pure function of the id: the
    * SAME rows are sampled on any cluster layout, any run, any engine —
    * no RNG, no seed bookkeeping, and a re-run after appends keeps every
    * previously sampled row whose rank still clears `n` (hash order is
    * stable under insertion, unlike a reshuffled random sample).
    *
    * Scale shape: `row_number` under a rank≤n filter plans Spark's
    * WindowGroupLimit — each map task keeps only its local top-n per
    * group BEFORE the exchange, so the shuffle carries O(tasks·n) rows
    * per group, never the group (plan-guarded). Ids must be non-null —
    * ENFORCED: a null id raises at execution (null hash keys would sort
    * NULLS FIRST in Spark's window but NULLS LAST under DuckDB's
    * default, silently diverging the sample; the repo convention is to
    * fail loudly instead, cf. shardByTokenBudget's surrogate require).
    */
  def stratifiedSample(df: org.apache.spark.sql.DataFrame, groupCol: String,
                       idCol: String, n: Int): org.apache.spark.sql.DataFrame = {
    require(n >= 1, s"stratifiedSample: n=$n")
    import org.apache.spark.sql.expressions.Window
    // the guard lives INSIDE the hashed order key so it cannot be pruned:
    // any row reaching the window sort evaluates it
    val idChecked = when(col(idCol).isNotNull, col(idCol).cast("string"))
      .otherwise(raise_error(lit(s"stratifiedSample: null $idCol — " +
        "null ids order differently across engines; filter or " +
        "surrogate-key them before sampling")))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(graft.operators.KeyHash.key64(idChecked), col(idCol))
    df.withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= n)
  }

  def shardByTokenBudget(df: org.apache.spark.sql.DataFrame, textCol: String,
                         idCol: String, shardTokens: Long,
                         parts: Int = 0,
                         orderCol: String = ""): org.apache.spark.sql.DataFrame = {
    require(shardTokens > 0, s"shardTokens=$shardTokens")
    val spark = df.sparkSession
    import spark.implicits._
    // the stream order: `orderCol` (ties broken by idCol) when given —
    // [[shuffledShards]]' pseudo-random key — else idCol itself. Range
    // bucketing on a double-rounded orderCol stays ORDER-COMPATIBLE with
    // the exact (orderCol, idCol) sort (rounding is monotone; equal
    // values share a bucket), so boundary placement never affects results
    val oc = if (orderCol.nonEmpty) orderCol else idCol
    // approxQuantile (the range-boundary pass) accepts numeric columns
    // only — a string document id needs a numeric surrogate order key
    // (xxhash64, or shuffledShards' md5 key) passed as `orderCol`
    require(df.schema(oc).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"order column '$oc' is ${df.schema(oc).dataType.simpleString}, but range " +
        "bucketing (approxQuantile) needs a NUMERIC ordering — pass a numeric " +
        "orderCol (e.g. xxhash64 of the id) when the id column is non-numeric")
    val n = if (parts > 0) parts
      else spark.sessionState.conf.numShufflePartitions
    val toks = df.withColumn("n_tokens",
      coalesce(tokenCount(col(textCol)), lit(0)).cast("long"))
    val bounds =
      if (n <= 1) Array.empty[Double]
      else toks.stat.approxQuantile(oc,
        (1 until n).map(_.toDouble / n).toArray, 0.001).distinct.sorted
    val bucketed = toks.withColumn("__b",
      size(filter(typedlit(bounds), b => col(oc) >= b)))
    val totals = bucketed.groupBy("__b").agg(sum("n_tokens").as("t"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    // exclusive offsets: bucket b's offset is the sum of totals before it
    var acc = 0L
    val off = totals.map { case (b, t) => val o = (b, acc); acc += t; o }
    val offDf = off.toSeq.toDF("__b", "__off")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__b").orderBy(col(oc), col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    bucketed.join(broadcast(offDf), Seq("__b"))
      .withColumn("__tb",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)) + col("__off"))
      .withColumn("shard", expr(s"__tb div ${shardTokens}L"))
      .drop("__b", "__off", "__tb")
  }

  /** Split documents into training-window CHUNKS of at most `maxTokens`
    * whitespace tokens, consecutive chunks sharing `overlap` tokens — the
    * long-document ingestion step (a 200k-token page must become
    * model-window pieces) and the retrieval-index granularity cut.
    *
    * Chunk starts step by `maxTokens - overlap`; the last chunk is the
    * remainder (never a pure-overlap tail: a doc with ≤ `maxTokens`
    * tokens yields exactly one chunk). Entirely ROW-LOCAL — tokens →
    * `sequence` of chunk indexes → `explode` → `slice`, native codegen'd
    * functions, no shuffle, no UDF — so it streams through a 100 TB scan
    * at columnar speed and composes with [[shardByTokenBudget]] /
    * [[packBins]] downstream. Empty/null docs yield no chunks.
    *
    * Returns (idCol, chunk_id, chunk_text, n_tokens); `chunk_id` counts
    * from 0 within each document.
    */
  def chunkDocs(df: org.apache.spark.sql.DataFrame, textCol: String,
                idCol: String, maxTokens: Int,
                overlap: Int = 0): org.apache.spark.sql.DataFrame = {
    require(maxTokens > 0, s"chunkDocs: maxTokens=$maxTokens")
    require(overlap >= 0 && overlap < maxTokens,
      s"chunkDocs: overlap=$overlap must be in [0, maxTokens)")
    val stride = maxTokens - overlap
    val toks = filter(split(col(textCol), "\\s+"), t => t =!= "")
    df.select(col(idCol), toks.as("__toks"))
      .withColumn("__n", size(col("__toks")))
      .filter(col("__n") > 0)
      // nChunks = ceil(max(n - overlap, 1) / stride); ints < 2^53 are
      // exact in the double division
      .withColumn("chunk_id", explode(sequence(lit(0),
        ((greatest(col("__n") - lit(overlap), lit(1)) + lit(stride - 1)) /
          lit(stride)).cast("int") - lit(1))))
      .select(col(idCol), col("chunk_id"),
        array_join(slice(col("__toks"),
          col("chunk_id") * lit(stride) + lit(1), lit(maxTokens)), " ")
          .as("chunk_text"),
        least(lit(maxTokens), col("__n") - col("chunk_id") * lit(stride))
          .as("n_tokens"))
  }

  /** A chunk's token span — public so the UDF's generated code can call
    * the accessors (a `private` case class silently drops the projection
    * to interpreter mode, the Unigram.UniEnc precedent).
    */
  case class ChunkSpan(start: Int, len: Int)

  /** SENTENCE-ALIGNED long-document chunking — [[chunkDocs]]'s real
    * long-context ingestion cut: fixed-stride windows slice mid-sentence,
    * and a training/retrieval chunk that opens or closes mid-thought
    * degrades both. Boundaries SNAP to sentence ends with the token
    * budget as a hard cap:
    *
    *  - a sentence ends at a token whose last character is terminal
    *    punctuation (`[.!?"”]`, the t26 lineStats rule); the document
    *    end always closes the last sentence;
    *  - each chunk ends at the LAST sentence end within `maxTokens` of
    *    its start (greedy packing — deterministic, order-free);
    *  - only a single sentence longer than the window is cut mid-sentence
    *    (at exactly `maxTokens`, resuming the sentence in the next
    *    chunk) — spec-pinned.
    *
    * Chunks tile the document exactly (no overlap — overlap is
    * ill-defined under snapping; concatenating chunk texts reproduces
    * the tokenized document). ROW-LOCAL like chunkDocs: one
    * tokenization, one O(n) two-pointer span UDF per row (arrays stay
    * in Tungsten; the slice/join stay codegen'd columns), `posexplode`,
    * no shuffle — streams through a 100 TB scan. Empty/null docs yield
    * no chunks.
    *
    * Returns (idCol, chunk_id, chunk_text, n_tokens); `chunk_id` counts
    * from 0 within each document. Oracle: the same greedy recursion as a
    * per-document recursive CTE over sentence-end offsets (t60).
    */
  def sentenceChunks(df: org.apache.spark.sql.DataFrame, textCol: String,
                     idCol: String, maxTokens: Int)
      : org.apache.spark.sql.DataFrame = {
    require(maxTokens > 0, s"sentenceChunks: maxTokens=$maxTokens")
    val spans = udf { (toks: Seq[String]) =>
      val n = toks.length
      // sentence-end offsets (1-based token counts), doc end included
      val ends = new scala.collection.mutable.ArrayBuffer[Int]()
      var i = 0
      while (i < n) {
        val t = toks(i)
        val c = t.charAt(t.length - 1)
        if (c == '.' || c == '!' || c == '?' || c == '"' || c == '”')
          ends += i + 1
        i += 1
      }
      if (ends.isEmpty || ends.last != n) ends += n
      // greedy: each chunk ends at the last sentence end within budget;
      // a budget window holding no end (one oversized sentence) cuts at
      // exactly maxTokens — two-pointer, O(n) total
      val out = new scala.collection.mutable.ArrayBuffer[ChunkSpan]()
      var s = 0
      var ei = 0
      while (s < n) {
        val limit = s + maxTokens
        while (ei < ends.length && ends(ei) <= s) ei += 1
        var last = -1
        var j = ei
        while (j < ends.length && ends(j) <= limit) { last = ends(j); j += 1 }
        val e = if (last > s) last else limit
        out += ChunkSpan(s, e - s)
        s = e
      }
      out.toSeq
    }
    val toks = filter(split(col(textCol), "\\s+"), t => t =!= "")
    df.select(col(idCol), toks.as("__toks"))
      .filter(size(col("__toks")) > 0)
      .select(col(idCol), col("__toks"),
        posexplode(spans(col("__toks"))).as(Seq("chunk_id", "__sp")))
      .select(col(idCol), col("chunk_id"),
        array_join(slice(col("__toks"), col("__sp.start") + lit(1),
          col("__sp.len")), " ").as("chunk_text"),
        col("__sp.len").as("n_tokens"))
  }

  /** Keep the top `keepFrac` of rows by `scoreCol` WITHOUT a global
    * sort — threshold calibration for quality filtering ("keep the best
    * 30%") at corpus scale: one aggregate for (min, max, count), one
    * fixed-width histogram pass (`bins` partial-aggregated counts, the
    * only driver state), then a filter at the highest bin boundary whose
    * from-the-top cumulative count reaches `ceil(keepFrac × total)`.
    * Every kept row's score falls in a bin ≥ the cut bin, so the kept
    * set is deterministic at any partitioning (no tie sampling) and AT
    * LEAST the requested fraction — the boundary bin is included whole;
    * its width (range/`bins`) bounds the overshoot. Three scans total,
    * driver state = `bins` longs, at any corpus size.
    *
    * Degenerate inputs: a constant score column (min == max — bin width
    * 0) keeps everything, as does `keepFrac >= 1`. Null scores never
    * survive (they compare false at the cut).
    */
  def keepTopFraction(df: org.apache.spark.sql.DataFrame, scoreCol: String,
                      keepFrac: Double,
                      bins: Int = 4096): org.apache.spark.sql.DataFrame = {
    require(keepFrac > 0, s"keepTopFraction: keepFrac=$keepFrac")
    require(bins > 1, s"keepTopFraction: bins=$bins")
    if (keepFrac >= 1.0) return df
    val mm = df.agg(min(col(scoreCol)).cast("double"),
      max(col(scoreCol)).cast("double"), count(col(scoreCol))).head()
    if (mm.isNullAt(0) || mm.getDouble(0) == mm.getDouble(1)) return df
    val (lo, hi, total) = (mm.getDouble(0), mm.getDouble(1), mm.getLong(2))
    val w = (hi - lo) / bins
    val bin = least(lit(bins - 1),
      floor((col(scoreCol).cast("double") - lit(lo)) / lit(w)).cast("int"))
    val histo = df.filter(col(scoreCol).isNotNull)
      .groupBy(bin.as("__bin")).agg(count(lit(1)).as("__c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val target = math.ceil(keepFrac * total).toLong
    var (cum, cutBin) = (0L, 0)
    var b = bins - 1
    while (b >= 0 && cum < target) { cum += histo.getOrElse(b, 0L); cutBin = b; b -= 1 }
    // the isNotNull guard is load-bearing: least() SKIPS nulls, so a null
    // score would otherwise bin at bins-1 and sail through the cut
    df.filter(col(scoreCol).isNotNull && bin >= lit(cutBin))
  }

  /** PER-GROUP [[keepTopFraction]] — "keep the best 30% of each domain":
    * quality thresholds calibrated within every source so one
    * high-quality domain can't crowd out the rest of the mix. Fully
    * DISTRIBUTED, unlike the global variant's driver histogram (bins ×
    * unbounded groups must not land on the driver): per-(group, bin)
    * counts partial-aggregate, the from-the-top cumulative runs in a
    * per-group window over ≤ `bins` rows (bounded by construction — the
    * rare safe window), each group's cut bin joins back, and the filter
    * keeps rows at or above their own group's cut. Same guarantees per
    * group as the global op: deterministic at any partitioning, at least
    * the requested fraction, overshoot bounded by that group's bin width.
    * Groups whose scores are all equal (bin width 0) keep everything;
    * null scores never survive; a null group is its own group.
    */
  def keepTopFractionByGroup(df: org.apache.spark.sql.DataFrame,
                             scoreCol: String, groupCol: String,
                             keepFrac: Double,
                             bins: Int = 4096): org.apache.spark.sql.DataFrame = {
    require(keepFrac > 0, s"keepTopFractionByGroup: keepFrac=$keepFrac")
    require(bins > 1, s"keepTopFractionByGroup: bins=$bins")
    if (keepFrac >= 1.0) return df
    val mm = df.filter(col(scoreCol).isNotNull)
      .groupBy(col(groupCol).as("__g"))
      .agg(min(col(scoreCol)).cast("double").as("__lo"),
        max(col(scoreCol)).cast("double").as("__hi"),
        count(lit(1)).as("__n"))
    val s = col(scoreCol).cast("double")
    val binned = df.filter(col(scoreCol).isNotNull)
      .join(mm, col(groupCol) <=> col("__g")).drop("__g")
      .withColumn("__bin", when(col("__lo") === col("__hi"), lit(0))
        .otherwise(least(lit(bins - 1), floor((s - col("__lo")) /
          ((col("__hi") - col("__lo")) / bins)).cast("int"))))
    val hist = binned.groupBy(col(groupCol).as("__g"), col("__bin"),
        col("__n"), col("__lo"), col("__hi"))
      .agg(count(lit(1)).as("__c"))
    // ≤ bins rows per group: the one window whose partitions are bounded
    // by construction
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__g")).orderBy(col("__bin").desc)
    val cuts = hist
      .withColumn("__cc", sum(col("__c")).over(w))
      .filter(col("__cc") >= ceil(lit(keepFrac) * col("__n")))
      .groupBy(col("__g"), col("__lo"), col("__hi"))
      .agg(max(col("__bin")).as("__cut"))
      // all-equal groups (lo == hi) bin everything at 0: cut 0 keeps all
    binned
      .join(cuts.drop("__lo", "__hi"), col(groupCol) <=> col("__g"))
      .filter(col("__bin") >= col("__cut"))
      .drop("__g", "__bin", "__cut", "__n", "__lo", "__hi")
  }

  /** Deterministically SHUFFLED token-budget shards — the layout step a
    * training run actually wants: documents in a reproducible
    * pseudo-random global order (decorrelated from crawl/id order, so no
    * shard is one domain's contiguous slice), then cut into
    * `shardTokens`-token shards by the same distributed prefix-sum as
    * [[shardByTokenBudget]]. The order key is the first 60 bits of
    * `md5(seed ":" id)` (engine-portable — no RNG, no partition-order
    * dependence; a different `seed` is a fresh epoch permutation),
    * carried on the output as `shuffle_key` evidence with ties broken by
    * id. Same scale shape: every stage bounded by `parts`.
    */
  def shuffledShards(df: org.apache.spark.sql.DataFrame, textCol: String,
                     idCol: String, shardTokens: Long, seed: String = "0",
                     parts: Int = 0): org.apache.spark.sql.DataFrame = {
    val key = conv(substring(
      md5(concat(lit(seed), lit(":"), col(idCol).cast("string"))), 1, 15),
      16, 10).cast("long")
    shardByTokenBudget(df.withColumn("shuffle_key", key), textCol, idCol,
      shardTokens, parts, orderCol = "shuffle_key")
  }

  /** Within-document repeated-LINE removal — the C4-style cleanup for
    * boilerplate-heavy pages (nav menus, cookie banners, footers repeat
    * verbatim inside one page): keep each distinct line's FIRST
    * occurrence, preserve order, keep blank lines (paragraph structure
    * survives). Pure column expression — one split, an indexed filter —
    * no shuffle, safe inside any scan gate. Line identity is exact and
    * WITHIN the document; corpus-wide repeated-span removal is the span
    * dedup pipeline (L25).
    */
  def dropRepeatedLines(text: Column): Column = {
    val lines = split(text, "\n")
    array_join(
      filter(lines, (l, i) =>
        (l === lit("")) || (array_position(lines, l) === (i + lit(1)))),
      "\n")
  }

  /** Temperature-flattened source weights — the multilingual-pretraining
    * rebalancing rule (XLM-R family: sample source s with q_s ∝ p_s^(1/T)):
    * one (source, `weight`) row per source with weight = q_s / p_s,
    * rescaled so the EXPECTED mixed corpus size is unchanged
    * (Σ_s count_s × w_s = N). T = 1 is the identity (every weight 1);
    * T > 1 flattens toward uniform-over-sources, upsampling low-resource
    * sources; T < 1 sharpens toward the raw distribution. One
    * partial-aggregating count pass; the result is a ≤|sources|-row frame
    * built to BROADCAST-join into [[mixCorpus]]'s weight expression —
    * weights round to 6 decimals so the downstream deterministic
    * replication is hash-stable across engines.
    */
  def temperatureWeights(df: org.apache.spark.sql.DataFrame, sourceCol: String,
                         temperature: Double): org.apache.spark.sql.DataFrame = {
    require(temperature > 0, s"temperature=$temperature")
    val alpha = 1.0 / temperature
    val counts = df.groupBy(col(sourceCol)).agg(count(lit(1)).as("__c"))
    val tot = counts.agg(sum(col("__c")).as("__n"),
      sum(pow(col("__c"), lit(alpha))).as("__z"))
    counts.crossJoin(tot)
      .select(col(sourceCol),
        round(pow(col("__c"), lit(alpha)) / col("__z") *
          col("__n") / col("__c"), 6).as("weight"))
  }

  /** Deterministic weighted corpus mixing: each row is kept/dropped or
    * replicated according to `weight` (an arbitrary per-row expression —
    * typically a CASE over the source column or a joined-in dims table).
    * weight 0.4 keeps a stable 40% sample; weight 2.3 emits 2 copies plus a
    * stable 30% chance of a third. The decision reuses [[splitAssign]]'s
    * md5 content bucket, so a rerun — or another engine — reproduces the
    * exact same mix (no RNG, no partition-order dependence). Output gains a
    * `copy` index (1..n); replicas stay distinguishable downstream.
    */
  def mixCorpus(df: org.apache.spark.sql.DataFrame, weight: Column,
                textCol: String): org.apache.spark.sql.DataFrame = {
    val bucket = pmod(conv(substring(md5(col(textCol).cast("binary")), 1, 6), 16, 10)
      .cast("long"), lit(10000))
    df.withColumn("__copies",
        (floor(weight) +
          when(bucket < (weight - floor(weight)) * 10000, 1).otherwise(0)).cast("int"))
      .filter(col("__copies") > 0)
      .withColumn("copy", explode(sequence(lit(1), col("__copies"))))
      .drop("__copies")
  }

  /** Line-SHAPE quality profile — the C4/Gopher/FineWeb line heuristics
    * a crawl gate runs after HTML extraction (the natural complement of
    * [[qualityScore]]'s token shapes): over the NON-BLANK lines of a
    * document,
    *  - `n_lines`,
    *  - `frac_end_punct`: fraction ending in terminal punctuation
    *    (C4 keeps sentence-like lines),
    *  - `frac_bullet`: fraction starting with a bullet marker (Gopher
    *    caps at 90%),
    *  - `frac_ellipsis`: fraction trailing off in an ellipsis (Gopher
    *    caps at 30% — truncated teaser text),
    *  - `frac_short`: fraction with ≤ 3 words (nav/button debris).
    * Fractions round to 4 decimals (hash-stable cross-engine); a document
    * with no non-blank lines reports 0 lines and null fractions. Pure
    * column expression — row-local in any scan gate, RE2-safe regexes
    * (the redactPii portability convention).
    */
  def lineStats(text: Column): Column = {
    val lines = filter(split(text, "\n"), l => trim(l) =!= "")
    val n = size(lines)
    def frac(pred: Column => Column): Column =
      round(when(n > 0,
        size(filter(lines, l => pred(l))).cast("double") / n.cast("double")),
        4)
    struct(
      n.as("n_lines"),
      frac(l => trim(l).rlike("[.!?\"”]$")).as("frac_end_punct"),
      frac(l => trim(l).rlike("^[-*•]")).as("frac_bullet"),
      frac(l => trim(l).rlike("(\\.\\.\\.|…)$")).as("frac_ellipsis"),
      frac(l => size(filter(split(trim(l), " +"), t => t =!= "")) <= 3)
        .as("frac_short"))
  }

  /** Fraction of non-alphanumeric, non-whitespace characters — the classic
    * symbol-density filter (code dumps, markup residue, boilerplate score
    * high). Pure column expression.
    */
  def symbolRatio(text: Column): Column =
    regexp_count(text, lit("[^A-Za-z0-9\\s]")).cast("double") /
      greatest(length(text).cast("double"), lit(1.0))

  /** Gopher-style word-repetition metrics per document:
    * `top_word_ratio` (count of the most frequent token / all tokens) and
    * `dup_word_ratio` (fraction of tokens that are repeats of an earlier
    * token) — the filters that catch keyword-stuffed and boilerplate pages
    * that length/shape heuristics miss.
    *
    * Distributed shape: explode → (id, token) count → per-id aggregate.
    * Both aggregations partial-aggregate map-side, so the shuffle carries
    * per-partition (id, token) partials, never raw text — the same shape
    * at any corpus size. (A per-row higher-order-function version would
    * avoid the shuffle but evaluates an interpreted O(tokens²) lambda per
    * document — measured slower and it starves whole-stage codegen.)
    */
  def repetitionStats(df: org.apache.spark.sql.DataFrame, textCol: String,
                      idCol: String): org.apache.spark.sql.DataFrame =
    df.select(col(idCol), explode(split(col(textCol), "\\s+")).as("__t"))
      .groupBy(col(idCol), col("__t")).agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol)).agg(
        max(col("__c")).cast("double").as("__mx"),
        sum(col("__c")).cast("double").as("__n"),
        count(lit(1)).cast("double").as("__d"))
      .select(col(idCol),
        round(col("__mx") / col("__n"), 4).as("top_word_ratio"),
        round(lit(1.0) - col("__d") / col("__n"), 4).as("dup_word_ratio"))

  /** Corpus-frequency rare-token profile per document: the minimum corpus
    * frequency among the document's tokens, its hapax count (tokens that
    * appear exactly once in the whole corpus), and the hapax fraction —
    * the cheap proxy for "is this document made of normal language or
    * one-off garbage strings" that needs no model, only the corpus itself.
    *
    * Shuffle shape at scale: raw token OCCURRENCES never cross the wire.
    * Occurrences are first collapsed to distinct (id, token, cnt) rows —
    * a partial-aggregating groupBy whose map-side combine absorbs every
    * within-document repeat, and whose (id, token) shuffle key is NOT
    * skewed (ids spread hot tokens across partitions). The corpus vocab
    * derives from those same rows (no second pass over the text), and the
    * token-keyed join back carries at most one row per (document, distinct
    * token) — so "the" routes one row per containing doc, not one per
    * occurrence, through its shuffle partition. min/hapax/total are all
    * derivable from cnt (a corpus-hapax token necessarily has cnt = 1 in
    * its single document), so results are bit-identical to the naive
    * occurrence-level rollup; integer aggregates plus one final division
    * keep the oracle hash stable under any partitioning.
    */
  def rareTokenStats(df: org.apache.spark.sql.DataFrame, textCol: String,
                     idCol: String): org.apache.spark.sql.DataFrame = {
    val perDoc = df.select(col(idCol), explode(split(col(textCol), "\\s+")).as("__t"))
      .groupBy(col(idCol), col("__t")).agg(count(lit(1)).as("__cnt"))
    val vocab = perDoc.groupBy(col("__t")).agg(sum(col("__cnt")).as("__freq"))
    perDoc.join(vocab, "__t")
      .groupBy(col(idCol)).agg(
        min(col("__freq")).as("min_tok_freq"),
        sum(when(col("__freq") === 1, col("__cnt")).otherwise(lit(0L))).as("n_hapax"),
        sum(col("__cnt")).as("__n"))
      .select(col(idCol), col("min_tok_freq"), col("n_hapax"),
        round(col("n_hapax").cast("double") / col("__n").cast("double"), 4)
          .as("hapax_frac"))
  }

  /** Windows-1252 "smart punctuation" specials: code point → the byte
    * that encodes it. Together with the identity mapping for code points
    * ≤ 0xFF this is [[fixText]]'s whole byte model — it covers mojibake
    * minted by BOTH wrong decodes a crawl actually sees (latin-1, which
    * surfaces C1 code points directly, and cp1252, which surfaces these
    * specials). One source of truth: the oracle SQL generates its CASE
    * arms from this seq.
    */
  private[graft] val Cp1252Specials: Seq[(Int, Int)] = Seq(
    0x20AC -> 0x80, 0x201A -> 0x82, 0x0192 -> 0x83, 0x201E -> 0x84,
    0x2026 -> 0x85, 0x2020 -> 0x86, 0x2021 -> 0x87, 0x02C6 -> 0x88,
    0x2030 -> 0x89, 0x0160 -> 0x8A, 0x2039 -> 0x8B, 0x0152 -> 0x8C,
    0x017D -> 0x8E, 0x2018 -> 0x91, 0x2019 -> 0x92, 0x201C -> 0x93,
    0x201D -> 0x94, 0x2022 -> 0x95, 0x2013 -> 0x96, 0x2014 -> 0x97,
    0x02DC -> 0x98, 0x2122 -> 0x99, 0x0161 -> 0x9A, 0x203A -> 0x9B,
    0x0153 -> 0x9C, 0x017E -> 0x9E, 0x0178 -> 0x9F)
  private val Cp1252Map: Map[Int, Int] = Cp1252Specials.toMap

  /** Inclusive code-point ranges [[fixText]] strips after repair + NFC:
    * C0 controls except tab/newline (CR handled by the newline
    * canonicalization first), DEL, C1 controls, zero-width
    * space/joiners, BOM-as-ZWNBSP. Shared source for the Java and
    * DuckDB character classes.
    */
  private[graft] val StripRanges: Seq[(Int, Int)] = Seq(
    (0x00, 0x08), (0x0B, 0x0C), (0x0E, 0x1F), (0x7F, 0x7F), (0x80, 0x9F),
    (0x200B, 0x200D), (0xFEFF, 0xFEFF))

  // mojibake repair + NFC — a deliberate UDF (byte-level recode, not
  // column algebra; the t35 Deflater precedent). The repair is ftfy's
  // core move made all-or-nothing per string: IF every code point maps
  // to a byte (identity ≤ 0xFF, cp1252 specials above) AND the byte
  // stream is STRICT RFC-3629 UTF-8, the string was a wrong decode —
  // re-decode it. Real Latin-1 text ("Café 25°C") never forms
  // valid UTF-8 runs, so it passes through untouched — the safety
  // property that makes the pass corpus-wide safe. Single pass:
  // double-encoded mojibake repairs one layer per call (documented).
  private val RepairNfc = udf { (s: String) =>
    if (s == null) Option.empty[String]
    else {
      val cps = s.codePoints.toArray
      val bytes = new Array[Byte](cps.length)
      var ok = cps.nonEmpty
      var i = 0
      while (ok && i < cps.length) {
        val c = cps(i)
        if (c <= 0xFF) bytes(i) = c.toByte
        else Cp1252Map.get(c) match {
          case Some(b) => bytes(i) = b.toByte
          case None => ok = false
        }
        i += 1
      }
      val repaired =
        if (!ok) s
        else {
          val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
            .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
            .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
          try dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
          catch { case _: java.nio.charset.CharacterCodingException => s }
        }
      Some(java.text.Normalizer.normalize(repaired,
        java.text.Normalizer.Form.NFC))
    }
  }

  /** Text canonicalization (ftfy-lite) — the pass a crawl pipeline runs
    * BEFORE hashing/dedup so that byte-level encoding accidents don't
    * defeat content identity: (1) mojibake repair — a string whose code
    * points, read back as latin-1/cp1252 bytes, form strict UTF-8 was a
    * wrong decode and is re-decoded ("CafÃ©" → "Café", "donâ€™t" →
    * "don’t"), all-or-nothing per string so genuine Latin-1 text can
    * never be mangled; (2) Unicode NFC (decomposed accents compose, so
    * "e"+U+0301 and "é" dedup together); (3) newline canonicalization
    * (CRLF/CR → LF) and control/zero-width stripping ([[StripRanges]]).
    * NFC parity note: Java's Normalizer and DuckDB's utf8proc may carry
    * different Unicode VERSIONS — normalization is version-stable for
    * assigned characters, so parity holds for any corpus of stable text
    * (spec-pinned on the salted variants).
    */
  def fixText(text: Column): Column = {
    val strip = "[" + StripRanges.map { case (lo, hi) =>
      if (lo == hi) f"\\u$lo%04X" else f"\\u$lo%04X-\\u$hi%04X"
    }.mkString + "]"
    regexp_replace(
      regexp_replace(RepairNfc(text), "\r\n|\r", "\n"),
      strip, "")
  }

  /** Per-document TF-IDF keyword extraction — the topic/domain tagging
    * signal a curation pipeline attaches before mixing (cluster labels,
    * domain routing, dedup-cluster naming): the top-k tokens of each
    * document ranked by tf · ln((N+1)/(df+1)) (add-one smoothed IDF — a
    * token in every document scores exactly 0 instead of requiring an
    * epsilon). Scores ROUND 4 before ranking (the t13 ln-at-ROUND-4
    * cross-engine precedent) with token tie-breaks, so the top-k BOUNDARY
    * is deterministic on any engine. Scale shape: document-frequency is a
    * vocabulary-sized skeleton joined back onto (doc, token) counts; the
    * corpus size is a 1-row broadcast; per-doc top-k is an AGGREGATION
    * (sorted-slice over each doc's own scored tokens), not a window sort
    * over a shuffled corpus. Output (id, rank, token, score), rank 1-based.
    */
  def keywords(df: org.apache.spark.sql.DataFrame, textCol: String,
               idCol: String, k: Int = 5): org.apache.spark.sql.DataFrame = {
    require(k >= 1 && k <= 64, s"keyword count out of [1,64]: $k")
    val perDoc = df
      .select(col(idCol), explode(split(col(textCol), "\\s+")).as("__t"))
      .filter(col("__t") =!= "")
      .groupBy(col(idCol), col("__t")).agg(count(lit(1)).as("__tf"))
    val dfreq = perDoc.groupBy("__t").agg(count(lit(1)).as("__df"))
    val n = df.select(countDistinct(col(idCol)).as("__n"))
    val scored = perDoc.join(dfreq, "__t").crossJoin(broadcast(n))
      .withColumn("__score",
        round(col("__tf") * log((col("__n") + 1).cast("double") /
          (col("__df") + 1)), 4))
    scored.groupBy(col(idCol))
      .agg(slice(sort_array(collect_list(
        struct((-col("__score")).as("s"), col("__t").as("t")))), 1, k)
        .as("__top"))
      .select(col(idCol), posexplode(col("__top")))
      .select(col(idCol), (col("pos") + 1).cast("int").as("rank"),
        col("col.t").as("token"), (-col("col.s")).as("score"))
  }

  /** PII redaction: emails, IPv4 addresses, and phone-shaped digit runs
    * replaced with typed placeholders — the pass a training corpus runs
    * before anything is persisted for reuse. Deliberately conservative
    * patterns (no lookaround) so the same regexes run identically on
    * Java's engine, RE2, and the DuckDB oracle. Order matters: emails
    * first (their digits must not be half-eaten by the phone rule), then
    * IPs (dotted quads are not phone-charset), then phones.
    *
    * Recall-over-precision tradeoff, by design: the phone rule matches ANY
    * ≥9-char run of digits/space/()/−, so legitimate numeric sequences —
    * year lists, data series like "1000 2000 3000", spaced ids — are also
    * collapsed to `<PHONE>`. A separator-grouped phone ("555 010 0042")
    * is structurally indistinguishable from such a series without
    * lookaround, which the three-engine parity above rules out. A corpus
    * where numeric runs are signal (tables, scientific text) should
    * disable redaction (`Config.redactPii = false`) or redact only
    * email/IP with its own pass.
    */
  def redactPii(text: Column): Column = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    val phone = "\\+?\\d[\\d() -]{7,}\\d"
    regexp_replace(
      regexp_replace(
        regexp_replace(text, email, "<EMAIL>"),
        ip, "<IP>"),
      phone, "<PHONE>")
  }

  /** Corpus DIFF between two curation runs — the audit report every
    * versioned-dataset workflow publishes next to a release: per id,
    * whether the document was `added`, `removed`, `changed` (present in
    * both, text differs — a span rewrite, a redaction, a decontamination
    * cut), or `unchanged`. One full outer join on the id; texts compare
    * by content hash so the shuffle carries 32-byte digests, not document
    * bodies, and the comparison cost is independent of document size.
    * Null text is its own stable content value (null ≡ null reads
    * `unchanged`, null vs text reads `changed`) — a row's PRESENCE is
    * what `added`/`removed` report, never its text.
    */
  def corpusDiff(oldDf: org.apache.spark.sql.DataFrame,
                 newDf: org.apache.spark.sql.DataFrame,
                 textCol: String, idCol: String): org.apache.spark.sql.DataFrame = {
    // empty string hashes to a real digest, so "" can never collide with
    // the null sentinel
    def h(c: Column) = coalesce(sha2(c.cast("binary"), 256), lit(""))
    val o = oldDf.select(col(idCol), h(col(textCol)).as("__oh"))
    val n = newDf.select(col(idCol), h(col(textCol)).as("__nh"))
    o.join(n, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__oh").isNull, lit("added"))
          .when(col("__nh").isNull, lit("removed"))
          .when(col("__oh") === col("__nh"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** Canonical-URL normalization — the crawl-side identity every pipeline
    * dedups on BEFORE any content hash (the same page arrives as
    * http/https, with/without `www.`, with tracking params, fragments,
    * default ports, trailing slashes — and its content hash can still
    * differ per fetch, which is why URL identity is its own tier):
    *
    *  - scheme stripped (http/https, any case), host lowercased (paths
    *    stay case-sensitive), leading `www.` and default `:80`/`:443`
    *    dropped
    *  - fragment dropped; `utm_*`/`fbclid`/`gclid` tracking params
    *    dropped with separator cleanup; trailing `?`/`&`/`/` stripped
    *
    * Pure regexp-chain column expression — no lookaround, no UDF (the
    * [[redactPii]] engine-portability convention: identical on Java
    * regex, RE2, and the DuckDB oracle). Dedup composes:
    * `Dedup.exact(df.withColumn("u", normalizeUrl(col(url))), "u", id)`
    * keeps one document per canonical URL.
    */
  def normalizeUrl(url: Column): Column = {
    val noScheme = regexp_replace(trim(url), "^[Hh][Tt][Tt][Pp][Ss]?://", "")
    val host = lower(regexp_extract(noScheme, "^([^/?#]*)", 1))
    val rest = regexp_replace(noScheme, "^[^/?#]*", "")
    val h = regexp_replace(
      regexp_replace(host, "^www\\.", ""), ":(80|443)$", "")
    val r = regexp_replace(rest, "#.*$", "") // fragment first ([^&] below)
    val noTrack = regexp_replace(r,
      "([?&])(?:utm_[a-zA-Z0-9]+|fbclid|gclid)=[^&]*", "$1")
    val collapsed = regexp_replace(noTrack, "([?&])&+", "$1")
    val trimmedQ = regexp_replace(collapsed, "[?&]+$", "")
    concat(h, regexp_replace(trimmedQ, "/+$", ""))
  }

  /** Count of DISTINCT blocklisted words present in `text` (lowercase
    * whitespace tokens) — the C4-style word-list gate: `filter(… === 0)`
    * drops any document containing a listed word. Pure column algebra
    * (the list enters as a broadcast literal — word lists are hundreds of
    * entries, not millions), codegen'd, row-local, safe in the scan
    * hot path; null text counts null and a null-keeping filter must say
    * so explicitly (the corrupt-survives convention is the caller's
    * choice here — C4 itself drops undecodable docs earlier).
    */
  def blockedWordCount(text: Column, words: Seq[String]): Column = {
    require(words.nonEmpty, "blockedWordCount: empty word list")
    size(array_intersect(
      filter(split(lower(text), "\\s+"), t => t =!= ""),
      // Locale.ROOT: the row side uses Spark's locale-independent lower(),
      // so a default-locale fold here (e.g. Turkish 'I' → dotless 'ı')
      // would silently stop matching list entries containing 'I'
      typedlit(words.map(_.toLowerCase(java.util.Locale.ROOT)).distinct)))
  }

  /** DOMAIN-BLOCKLIST filter — the standard crawl-curation gate (UT1-style
    * category lists): drop every row whose URL's host is a blocked domain
    * OR any SUBDOMAIN of one (`ads.example.com` must match a blocked
    * `example.com` — plain equality misses the whole point of domain
    * lists). The row's host explodes into its dot-suffixes (`a.b.c.tld` →
    * itself, `b.c.tld`, `c.tld` — bounded by label count, row-local), a
    * LEFT SEMI join against the blocklist marks hit ids, and a LEFT ANTI
    * join on the id drops them; broadcast by Catalyst while the list is
    * small, a plain hash join when a real category list (millions of
    * domains) outgrows it — either way no per-row driver lookup. Hosts parse with
    * [[normalizeUrl]]'s conventions (case, `www.`, default ports). Block
    * entries should be bare registrable domains, lowercase, no scheme.
    * Rows with null/hostless URLs KEEP (no evidence — the corrupt-survives
    * convention); single-label suffixes (`com`) are not generated, so a
    * TLD can't be blocked by accident.
    */
  /** The ≥2-label dot-suffixes of `urlCol`'s normalized host: host
    * "a.b.c.tld" → [a.b.c.tld, b.c.tld, c.tld] (case/`www.`/default-port
    * normalized); a null/hostless URL yields none. Shared by the
    * join-shaped and row-local domain gates.
    */
  private def hostSuffixes(urlCol: String): Column = {
    val noScheme = regexp_replace(trim(col(urlCol)), "^[Hh][Tt][Tt][Pp][Ss]?://", "")
    val host = regexp_replace(regexp_replace(
      lower(regexp_extract(noScheme, "^([^/?#]*)", 1)),
      "^www\\.", ""), ":(80|443)$", "")
    val labels = split(host, "\\.")
    filter(
      transform(sequence(lit(1), greatest(size(labels) - 1, lit(1))),
        i => array_join(slice(labels, i, size(labels) - i + 1), ".")),
      s => s.contains("."))
  }

  /** Row-local domain-blocklist hit test for an IN-CONFIG domain list
    * (hundreds to thousands of entries — the literal array rides the
    * plan): true iff the URL's host is a listed domain or any subdomain
    * of one. No join, no shuffle, STREAM-safe — the literal-list twin of
    * [[filterBlockedDomains]] (which joins a DataFrame-shaped list that
    * may be too large to inline). Null/hostless URLs are false (keep).
    */
  def blockedDomainHit(urlCol: String, domains: Seq[String]): Column = {
    require(domains.nonEmpty, "blockedDomainHit needs at least one domain")
    // Locale.ROOT for the same reason as blockedWordCount above
    val normalized = domains.map(_.trim.toLowerCase(java.util.Locale.ROOT))
      .filter(_.contains("."))
    if (normalized.isEmpty) lit(false)
    else coalesce(
      arrays_overlap(hostSuffixes(urlCol),
        lit(normalized.distinct.toArray)), lit(false))
  }

  def filterBlockedDomains(df: org.apache.spark.sql.DataFrame,
                           urlCol: String, idCol: String,
                           blocked: org.apache.spark.sql.DataFrame,
                           domainCol: String = "domain"): org.apache.spark.sql.DataFrame = {
    val hit = df
      .select(col(idCol), explode(hostSuffixes(urlCol)).as("__h"))
      .join(blocked.select(lower(trim(col(domainCol))).as("__h")).distinct(),
        Seq("__h"), "left_semi")
      .select(col(idCol)).distinct()
    df.join(hit, Seq(idCol), "left_anti")
  }

  /** Resolve an extracted `href` against its page's `base` URL — the
    * crawl-frontier step between [[graft.text.Html.extractLinks]] and
    * [[normalizeUrl]]: absolute hrefs (any scheme) pass through,
    * scheme-relative `//host/…` adopt the base's scheme, root-relative
    * `/…` join the base origin, and relative paths join the base
    * directory (a host-only base gains its root slash). Engine-portable
    * regexp/CASE chain (no UDF, RE2-safe); dot-segment (`../`)
    * normalization is deliberately not applied — [[normalizeUrl]]'s
    * dedup identity treats the un-normalized form consistently.
    */
  def resolveUrl(base: Column, href: Column): Column = {
    val scheme = regexp_extract(base, "^([A-Za-z][A-Za-z0-9+.-]*):", 1)
    val origin = regexp_extract(base, "^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1)
    val pathBase = regexp_replace(base, "[?#].*$", "")
    val dir = when(pathBase.rlike("^[A-Za-z][A-Za-z0-9+.-]*://[^/]*$"),
      concat(pathBase, lit("/")))
      .otherwise(regexp_replace(pathBase, "[^/]*$", ""))
    when(href.rlike("^[A-Za-z][A-Za-z0-9+.-]*:"), href)
      .when(href.startsWith("//"), concat(scheme, lit(":"), href))
      .when(href.startsWith("/"), concat(origin, href))
      .otherwise(concat(dir, href))
  }

  /** Per-source document quota — the crawl-curation cap that stops one
    * domain from dominating a corpus (the public Common-Crawl pipelines
    * all run one): keep at most `maxPerSource` documents per source,
    * deterministically preferring the smallest `idCol` (stable across
    * reruns and engines — no RNG, no partition-order dependence).
    *
    * Scale shape: a single `row_number` window would route EVERY document
    * of a hot domain through one task — the classic window skew. This
    * runs the standard salted two-phase top-N instead: phase 1 ranks
    * within (source, salt) over `saltParts` deterministic salt lanes and
    * keeps `maxPerSource` per lane (the global per-source top-N is
    * necessarily contained in the union of per-lane top-Ns), so phase 2's
    * per-source window ranks at most saltParts × maxPerSource rows per
    * source — bounded regardless of domain skew. Results are identical to
    * the naive window (spec-pinned).
    */
  def sourceQuota(df: org.apache.spark.sql.DataFrame, sourceCol: String,
                  idCol: String, maxPerSource: Int,
                  saltParts: Int = 32): org.apache.spark.sql.DataFrame =
    graft.operators.Skew.saltedTopN(df, Seq(col(sourceCol)), col(idCol),
      Seq(col(idCol)), maxPerSource, saltParts)

  /** Per-source corpus profile — the report a curation run publishes per
    * ingest: document and token volumes, the median document length, and
    * the mean heuristic-quality/symbol-density scores, one row per
    * source. All heavy lifting is one partial-aggregating groupBy over
    * row-local column expressions (the scan→agg shape that holds at any
    * corpus size); the means are rounded so the report is hash-stable
    * across partitionings.
    */
  def sourceProfile(df: org.apache.spark.sql.DataFrame, sourceCol: String,
                    textCol: String): org.apache.spark.sql.DataFrame = {
    val t = col(textCol)
    df.select(col(sourceCol), tokenCount(t).as("__n"),
        qualityScore(t).as("__q"), symbolRatio(t).as("__s"))
      .groupBy(col(sourceCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__n")).as("tokens_total"),
        round(expr("percentile(__n, 0.5)"), 4).as("med_tokens"),
        round(avg(col("__q")), 4).as("quality_avg"),
        round(avg(col("__s")), 4).as("symbol_avg"))
  }

  private val FpPrime = 1099511628211L // FNV-64 prime

  /** Winnowing-style document fingerprint: minimum 64-bit rolling
    * (polynomial) hash over all k-gram character windows. Content-defined,
    * so it is stable under document reordering within a corpus and cheap to
    * compare for near-dup triage. UDF by necessity (stateful rolling loop),
    * but O(n) per document with zero allocation.
    */
  /** DEFLATE compression ratio (compressed bytes / UTF-8 bytes, rounded
    * to 4) — the quality signal repetition heuristics approximate:
    * templated/looped junk compresses far below natural text, which sits
    * ≈0.4-0.7 at paragraph length, and high-entropy noise ≥ 1. Used as a
    * filter feature (Gopher-family pipelines gate on it) alongside
    * [[repetitionStats]], which it catches generalizations of (repeats at
    * ANY period, not just n-gram scale). A UDF deliberately: this is a
    * byte-level codec (java.util.zip.Deflater, level 6, one pass, no
    * dictionary churn — deterministic for a given input on any JVM with
    * the bundled zlib), not expressible as column algebra. Null/empty →
    * null.
    */
  def compressionRatio(text: Column): Column = compressionRatioUdf(text)

  private val compressionRatioUdf = udf { (s: String) =>
    if (s == null || s.isEmpty) null.asInstanceOf[java.lang.Double]
    else {
      val in = s.getBytes("UTF-8")
      val d = new java.util.zip.Deflater(6, true)
      try {
        d.setInput(in); d.finish()
        val buf = new Array[Byte](8192)
        var out = 0L
        while (!d.finished()) out += d.deflate(buf)
        java.lang.Double.valueOf(
          BigDecimal.decimal(out.toDouble / in.length)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      } finally d.end()
    }
  }

  def fingerprint(text: Column, k: Int = 16): Column = fingerprintUdf(k)(text)

  private def fingerprintUdf(k: Int) = udf { (s: String) =>
    if (s == null || s.isEmpty) 0L
    else if (s.length <= k) polyHash(s, 0, s.length)
    else {
      // pow = FpPrime^(k-1) for the rolling subtraction
      var pow = 1L
      var i = 0
      while (i < k - 1) { pow *= FpPrime; i += 1 }
      var h = polyHash(s, 0, k)
      var minH = h
      i = k
      while (i < s.length) {
        h = (h - s.charAt(i - k) * pow) * FpPrime + s.charAt(i)
        if (h < minH) minH = h
        i += 1
      }
      minH
    }
  }

  private def polyHash(s: String, from: Int, until: Int): Long = {
    var h = 0L
    var i = from
    while (i < until) { h = h * FpPrime + s.charAt(i); i += 1 }
    h
  }
}
