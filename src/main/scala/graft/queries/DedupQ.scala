package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.dedup.Dedup

/** Deduplication queries. d01 (exact), d08 (span-level), d09/d10
  * (embedding-cosine pairs and SemDeDup survivors, over planted twins) are
  * oracle-checked; the MinHash/SimHash family emits deterministic
  * per-document artifacts (signatures, buckets, ranked pairs) with
  * rows-only checks — their pairing semantics are spec-tested on corpora
  * with planted near-duplicates.
  */
object DedupQ {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // L1: exact dedup via content hash (md5 here to stay oracle-comparable).
    "d01_exact_dedup" -> { (s, dir) =>
      Tables(s, dir, "documents")
        .groupBy(md5(col("text").cast("binary")).as("content_hash"))
        .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("dup_count"))
        .orderBy("canonical_id")
    },

    // L54: keep-BEST-replica exact dedup — every 5th doc gets a planted
    // replica (id + 5000) and a deterministic synthetic score, so each
    // content group must retain its argmax-score member (min id on ties),
    // not its min id. Same no-window aggregation shape as d01.
    "d17_dedup_keep_best" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents").select("doc_id", "text")
      val replicas = docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 5000).as("doc_id"), col("text"))
      val pool = docs.unionByName(replicas)
        .withColumn("score", pmod(col("doc_id") * 37, lit(101)).cast("double"))
      Dedup.exactKeepBest(pool, "text", "doc_id", col("score"))
        .select("doc_id", "score")
        .orderBy("doc_id")
    },

    // L63: corpus-wide exact line dedup — single-line corpus, so (the
    // t23 salting precedent) each doc is wrapped with a corpus-shared
    // header/footer, a blank separator, and a "mid k" line shared by
    // every 7th doc: shared lines survive only in their earliest doc,
    // the unique text line everywhere, blanks always.
    "d18_line_dedup" -> { (s, dir) =>
      Dedup.dedupLinesGlobal(lineSalted(Tables(s, dir, "documents")),
          "ml_text", "doc_id")
        .orderBy("doc_id")
    },

    // L67: exact substring dedup on sliding 8-token windows — each doc
    // gets a SHARED 8-token sentence at an id-dependent OFFSET (0/1/2 pad
    // tokens), the misaligned-repeat case the d08 grid structurally
    // misses; the stride-1 windows must remove it from all but the
    // corpus-earliest occurrence of each window.
    "d19_substring_dedup" -> { (s, dir) =>
      val pads = pmod(col("doc_id"), lit(3))
      val salted = Tables(s, dir, "documents")
        .withColumn("ml_text", concat(
          when(pads === 1, lit("pad ")).when(pads === 2, lit("pad pad "))
            .otherwise(lit("")),
          lit("alpha beta gamma delta epsilon zeta eta theta "),
          col("text")))
      Dedup.dedupSubstrings(salted, "ml_text", "doc_id", windowTokens = 8)
        .orderBy("doc_id")
    },

    // L73: variable-length maximal-repeat dedup — a 5-token phrase (below
    // d19's 8-token window) planted at an id-dependent offset must be
    // removed at its EXACT extent from all but the corpus-earliest
    // occurrence of each window, with per-doc extent count + max length.
    "d20_maximal_repeat_dedup" -> { (s, dir) =>
      val pads = pmod(col("doc_id"), lit(3))
      val salted = Tables(s, dir, "documents")
        .withColumn("ml_text", concat(
          when(pads === 1, lit("pad ")).when(pads === 2, lit("pad pad "))
            .otherwise(lit("")),
          lit("sigma tau upsilon phi chi "),
          col("text")))
      Dedup.dedupRepeats(salted, "ml_text", "doc_id", minTokens = 4)
        .orderBy("doc_id")
    },

    // L73b: repeat mining — the corpus's maximal duplicated extents (every
    // occurrence, corpus-first included) ranked by occurrence count.
    "d21_repeat_mining" -> { (s, dir) =>
      val pads = pmod(col("doc_id"), lit(3))
      val salted = Tables(s, dir, "documents")
        .withColumn("ml_text", concat(
          when(pads === 1, lit("pad ")).when(pads === 2, lit("pad pad "))
            .otherwise(lit("")),
          lit("sigma tau upsilon phi chi "),
          col("text")))
      Dedup.repeatProfile(salted, "ml_text", "doc_id", minTokens = 4,
        topK = 50)
    },

    // L86: containment (quote/subset) pairs — the asymmetric-Jaccard
    // join resemblance thresholds can't see (a verbatim quote inside a
    // long aggregator is Jaccard≈0 but containment 1.0); prefix-filter
    // candidates, row-local array-intersect verify.
    "d24_containment" -> { (s, dir) =>
      graft.dedup.Containment.containmentPairs(
          Tables(s, dir, "documents"), "text", "doc_id",
          k = 3, tauPct = 80, minShingles = 10)
        .orderBy("contained_id", "container_id")
    },

    // L87: content-defined chunking over the BINARY tier — banner-
    // prepended mirrors share zero whole-blob hashes with their
    // originals but nearly all CDC chunk hashes (gear boundaries
    // re-synchronize after the insertion); pairs ride the L86
    // prefix-filter containment join on the chunk-hash sets.
    "d25_cdc_containment" -> { (s, dir) =>
      val docs = cdcBlobs(Tables(s, dir, "documents"))
      val mirrors = docs.filter(col("media_id") % 10 === 0)
        .select((col("media_id") + 100000).as("media_id"),
          concat(encode(lit("HTTP/1.1 200 OK\r\nX-Mirror: cdn-7\r\n\r\n"),
            "UTF-8"), col("content")).as("content"))
      graft.dedup.Cdc.containmentPairs(
          docs.unionByName(mirrors), "content", "media_id",
          minSize = 16, avgBits = 5, maxSize = 256,
          tauPct = 70, minChunks = 4)
        .orderBy("contained_id", "container_id")
    },

    // L87b: cross-run chunk registry — the binary member of the
    // cross-run family. Day 0 (ids < 250) seeds the registry once per
    // JVM; the query replays day 2 (the rest, plus banner mirrors of
    // day-0 blobs) in report-only mode: mirrors re-add almost nothing
    // (boundaries re-synchronize), unseen blobs are all-new.
    "d26_chunk_registry" -> { (s, dir) =>
      val day2 = cdcBlobs(Tables(s, dir, "documents"))
        .filter(col("media_id") >= 250)
        .unionByName(cdcBlobs(Tables(s, dir, "documents"))
          .filter(col("media_id") < 250)
          .select((col("media_id") + 100000).as("media_id"),
            concat(encode(lit("HTTP/1.1 200 OK\r\nX-Mirror: cdn-7\r\n\r\n"),
              "UTF-8"), col("content")).as("content")))
      graft.dedup.Cdc.newChunksAgainstRegistry(
          day2, "content", "media_id", chunkRegistryTable(s, dir),
          update = false, minSize = 16, avgBits = 5, maxSize = 256)
        .orderBy("id")
    },

    // L2: MinHash LSH band buckets (the shuffle key of near-dedup at scale).
    "d02_minhash_bands" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val sigs = docs.select(col("doc_id"),
        Dedup.minhashSignatureFromText(col("text"), 3, 64).as("sig"))
      Dedup.lshBands(sigs, "sig", bands = 16, idCol = "doc_id")
        .orderBy("doc_id", "band")
    },

    // L3: 64-bit SimHash per document.
    "d03_simhash" -> { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), Dedup.simhash(col("text")).as("simhash64"))
        .orderBy("doc_id")
    },

    // L4: n-gram Jaccard verification join. Candidate pairs are linear in
    // corpus size (adjacent rank within a source — the shape of an LSH
    // candidate list), and crucially each document is tokenized into its
    // distinct bigram set ONCE before the join, so the pair loop only
    // intersects precomputed arrays. Top-50 most similar, deterministic.
    // Oracle-checked: hashed-gram Jaccard ≡ string-gram Jaccard (64-bit
    // collisions aside), so DuckDB verifies the ratio with string bigrams.
    "d04_jaccard_pairs" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      // adjacent pairs via lead() instead of a rank self-join: the self-join
      // recomputes the gram projection + window for both sides and adds two
      // more exchanges; lead() pairs each doc with its successor in the SAME
      // single shuffle that ordered them (one scan, one exchange, no join)
      val w = Window.partitionBy("source").orderBy("doc_id")
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), Dedup.ngramHashSet(col("text"), 2).as("grams"))
        .withColumn("b", lead(col("doc_id"), 1).over(w))
        .withColumn("gb", lead(col("grams"), 1).over(w))
        .filter(col("b").isNotNull)
        .select(col("doc_id").as("a"), col("b"),
          round(Dedup.jaccardOfSets(col("grams"), col("gb")), 4).as("jaccard"))
        .orderBy(col("jaccard").desc, col("a"), col("b"))
        .limit(50)
    },

    // L80b: near-dup pair explanation — d04's adjacent pairs with the
    // human-readable evidence: both gram counts, the shared count, the
    // integral-ppm Jaccard, and the smallest shared bigram as a concrete
    // example. The reviewer-facing "WHY was this pair flagged" report.
    "d28_dup_explain" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("source").orderBy("doc_id")
      val docs = Tables(s, dir, "documents")
      val pairs = docs.select(col("doc_id"), col("source"))
        .withColumn("b", lead(col("doc_id"), 1).over(w))
        .filter(col("b").isNotNull)
        .select(col("doc_id").as("a"), col("b"))
      Dedup.explainPairs(docs, pairs, "text", "doc_id")
        .orderBy("a", "b")
    },

    // L106: edit-distance similarity join (round 16; Ed-Join/Gravano
    // q-gram prefix filtering) — fuzzy identity for SHORT strings
    // (titles/names/URLs), the one-character-typo near-dups word-level
    // MinHash is blind to. 24-char prefixes as the title proxy, k = 6,
    // bigrams; the id < 2000 slice keeps the BRUTE-FORCE oracle
    // tractable at sf1 (the Spark side still runs the full blocking
    // machinery on the slice — blocking changes nothing in the output
    // set, which is why brute force IS a valid oracle).
    "d29_fuzzy_titles" -> { (s, dir) =>
      val titles = Tables(s, dir, "documents")
        .filter(col("doc_id") < 2000)
        .select(col("doc_id"), substring(col("text"), 1, 24).as("title"))
      graft.dedup.FuzzyJoin.editDistancePairs(titles, "doc_id", "title",
          maxDist = 6)
        .orderBy("a_id", "b_id")
    },

    // L106c: Jaro–Winkler SCORED matching (round 18) — d29's blocked
    // candidates scored by the codegen'd JW expression (the
    // record-linkage combo: q-gram block, JW verify at 0.8). The
    // oracle's jaro_winkler_similarity is an independent C++
    // implementation — the gate pins bit-identical doubles.
    "d32_jw_titles" -> { (s, dir) =>
      val titles = Tables(s, dir, "documents")
        .filter(col("doc_id") < 2000)
        .select(col("doc_id"), substring(col("text"), 1, 24).as("title"))
      graft.dedup.FuzzyJoin.jaroWinklerPairs(titles, "doc_id", "title",
          maxDist = 6, minJw = 0.8)
        .orderBy("a_id", "b_id")
    },

    // L106d: DAMERAU-Levenshtein matching (round 18) — the typo metric
    // (adjacent transposition = ONE edit) over the same titles;
    // blocking widened to gramLen+1 damage per edit, verify = the
    // codegen'd unrestricted Lowrance–Wagner kernel, oracle = DuckDB's
    // independent implementation of the same variant. Pure integer
    // cross-engine gate.
    "d33_damerau_titles" -> { (s, dir) =>
      val titles = Tables(s, dir, "documents")
        .filter(col("doc_id") < 2000)
        .select(col("doc_id"), substring(col("text"), 1, 24).as("title"))
      // k=4, not d29's 6: a Damerau budget is naturally tighter
      // (transpositions no longer double-charge), and at k=6 the
      // widened sentinel threshold (3·6 = 18 distinct grams) would be
      // near-universal on 24-char titles — k=4 keeps the non-sentinel
      // blocking path dominant (threshold 12, the d29 cutoff)
      graft.dedup.FuzzyJoin.damerauPairs(titles, "doc_id", "title",
          maxDist = 4)
        .orderBy("a_id", "b_id")
    },

    // L106b: ENTITY RESOLUTION end-to-end (round 16) — d29's fuzzy
    // pairs closed into connected components: every member of a typo
    // cluster maps to one canonical entity_id (the min-label id), which
    // is the deliverable an ER pipeline actually ships. Pairs from the
    // blocking+verify join; components via the pointer-jumping
    // dupClusters engine (O(log d) rounds); singletons absent by the
    // d23 convention (no pair → no cluster).
    "d30_fuzzy_clusters" -> { (s, dir) =>
      val titles = Tables(s, dir, "documents")
        .filter(col("doc_id") < 2000)
        .select(col("doc_id"), substring(col("text"), 1, 24).as("title"))
      val pairs = graft.dedup.FuzzyJoin.editDistancePairs(titles,
          "doc_id", "title", maxDist = 6)
        .select(col("a_id").as("a"), col("b_id").as("b"))
      Dedup.dupClusters(pairs)
        .select(col("id"), col("label").as("entity_id"))
        .orderBy("id")
    },

    // L18b: LEAKAGE-SAFE cluster split (round 17) — t07's deterministic
    // split with the NEAR-DUP CLUSTER as the unit of assignment: a
    // per-document split puts near-duplicates on opposite sides of the
    // train/eval fence (they hash differently); here d09's cosine dup
    // pairs close into components and the whole cluster rides one
    // md5-bucket draw on its min label. Oracle: d09's pair SQL → the
    // d23 recursive min-label closure → the t07 split expression on the
    // label.
    "d31_cluster_split" -> { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
        .filter(col("vec_id") < 1000)
        .select(col("vec_id"), col("embedding"))
      val twins = emb.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 1000000).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.01f)).as("embedding"))
      val all = emb.unionByName(twins)
      val pairs = Dedup.cosineDupPairsExact(all, "vec_id", "embedding",
          threshold = 0.8)
        .select(col("a"), col("b"))
      Dedup.leakageSafeSplit(all.select("vec_id"), "vec_id", pairs)
        .select(col("vec_id"), col("cluster"), col("split"))
        .orderBy("vec_id")
    },

    // L20: benchmark contamination — corpus docs (id ≥ 20) sharing distinct
    // 5-grams with the "benchmark" slice (id < 20). Hashed grams in Spark ≡
    // string grams in the oracle, same argument as d04.
    "d06_contamination" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      Dedup.contamination(
        docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20),
        "text", "doc_id", n = 5)
        .orderBy("doc_id")
    },

    // L20b: the same contamination report computed through the Bloom-filter
    // escape hatch (map-side prune + exact verify) — must equal d06 exactly,
    // so it shares d06's oracle and the hash gate proves the equivalence.
    "d07_contamination_bloom" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      Dedup.contaminationBloom(
        docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20),
        "text", "doc_id", n = 5)
        .orderBy("doc_id")
    },

    // L25: span-level exact dedup (C4/RefinedWeb-style): 3-token spans,
    // corpus-first occurrence kept, documents reassembled from survivors.
    // Oracle-checked end to end — counts AND the reassembled text hash.
    "d08_span_dedup" -> { (s, dir) =>
      Dedup.dedupSpans(Tables(s, dir, "documents"), "text", "doc_id", spanTokens = 3)
        .orderBy("doc_id")
    },

    // L26: exact embedding-cosine duplicate pairs. The natural corpus has
    // no near-dup pair (max cosine ≈ 0.51), so every 10th vector gets a
    // planted twin (id + 1000000, elements × 1.01f — hash-distinct floats,
    // cosine exactly 1 in exact arithmetic): the gate certifies both that
    // all 50 planted pairs surface and that NO natural pair crosses 0.8.
    // Float parity note: a float×float product computed in double and
    // rounded to float is identical to the direct float multiply (24-bit
    // products fit exactly in 53 bits), so the twins are bit-identical
    // across engines. The vec_id < 1000 slice keeps this VERIFICATION
    // query's cost fixed at any SF (measured 100× from sf0.1 → sf1
    // unbounded — the tier is quadratic by design; the corpus-scale
    // paths are d10/s07).
    "d09_cosine_dup_pairs" -> { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
        .filter(col("vec_id") < 1000)
        .select(col("vec_id"), col("embedding"))
      val twins = emb.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 1000000).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.01f)).as("embedding"))
      Dedup.cosineDupPairsExact(emb.unionByName(twins), "vec_id", "embedding",
        threshold = 0.8)
        .orderBy("a", "b")
    },

    // L80: dedup observability — the cluster-size histogram over d09's
    // exact cosine pairs (each planted twin forms a 2-cluster with its
    // original, plus whatever the random corpus pairs up transitively).
    // Oracle-gated via a recursive min-label closure in DuckDB — the one
    // place the iterative CC engine gets a cross-engine gate.
    "d23_dup_cluster_profile" -> { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
        .filter(col("vec_id") < 1000)
        .select(col("vec_id"), col("embedding"))
      val twins = emb.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 1000000).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.01f)).as("embedding"))
      val pairs = Dedup.cosineDupPairsExact(emb.unionByName(twins),
        "vec_id", "embedding", threshold = 0.8)
      Dedup.dupClusterProfile(pairs)
        .orderBy(col("cluster_size").desc)
    },

    // L26b: SemDeDup-style semantic dedup over the same corpus with EXACT-
    // copy twins (identical floats ⇒ identical centroid assignment ⇒ the
    // within-cell pairing can never miss a planted pair, whatever the
    // trained centroids are). Survivors = the 500 originals; the oracle
    // derives the same set from exact quadratic pairs, which certifies the
    // clustered approximate path end to end on this corpus.
    "d10_semantic_dedup" -> { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      val twins = emb.filter(col("vec_id") % 10 === 0)
        .withColumn("vec_id", col("vec_id") + 1000000)
      Dedup.semanticDedup(emb.unionByName(twins), "vec_id", "embedding",
        threshold = 0.8, nCentroids = 8)
        .select(col("vec_id"), col("label"))
        .orderBy("vec_id")
    },

    // L25b: per-source boilerplate-span profile. The synthetic corpus has
    // no per-source template, so each doc is salted with a grid-aligned
    // 6-token source header (6 % 3 == 0 keeps every natural span's
    // position) — the planted spans surface at doc_frac 1.0 at ANY scale
    // while the 0.08 threshold also catches the corpus's natural repeats.
    "d11_boilerplate" -> { (s, dir) =>
      val salted = Tables(s, dir, "documents").withColumn("text",
        concat_ws(" ", col("source"), lit("standard header line alpha beta"), col("text")))
      Dedup.boilerplateSpans(salted, "text", "doc_id", "source",
        spanTokens = 3, minDocFrac = 0.08)
        .orderBy("source", "span")
    },

    // L27: incremental cross-run dedup against a persisted content-hash
    // registry. Day 0 (ids < 250) is ingested into the registry once per
    // JVM; the query dedups the rest of the corpus against it in
    // report-only mode (update=false keeps repeated driver runs
    // deterministic). Certifies within-batch keep-min + the registry
    // anti-join in one gate.
    "d12_registry_dedup" -> { (s, dir) =>
      Dedup.dedupAgainstRegistry(
        Tables(s, dir, "documents").filter(col("doc_id") >= 250),
        "text", "doc_id", registryTable(s, dir), update = false)
        .select("doc_id")
        .orderBy("doc_id")
    },

    // L74: cross-run LINE dedup against a persisted line-hash registry —
    // the line-identity member of the cross-run family. Day 0 (ids < 250,
    // d18's corpus-shared header/footer/mid-k salt) seeds the registry
    // once per JVM; the query replays the rest of the corpus (same salt)
    // in report-only mode: every day-2 header/footer/mid line drops
    // (registered day 0), unique text lines survive batch-first, blanks
    // are preserved structure. Oracle-gated: md5-keyed anti-join on line
    // hashes ≡ anti-join on the line strings.
    "d22_line_registry" -> { (s, dir) =>
      Dedup.dedupLinesAgainstRegistry(
        lineSalted(Tables(s, dir, "documents")).filter(col("doc_id") >= 250),
        "ml_text", "doc_id", lineRegistryTable(s, dir), update = false)
        .orderBy("doc_id")
    },

    // L33: cross-run NEAR dedup against a persisted MinHash band index —
    // the near-dup twin of d12's exact registry. Day 0 (ids < 250) is
    // indexed fresh per call (cheap, keeps repeated driver runs
    // deterministic); the query replays the rest of the corpus in
    // report-only mode and returns the survivors. Rows-only: the MinHash
    // signature estimate needs wrapping 64-bit multiply and Murmur3
    // string hashing (exactly d02's DuckDB-inexpressibility argument);
    // the operator's lifecycle semantics are spec-gated instead.
    "d13_near_registry" -> { (s, dir) =>
      import graft.sources.Warehouse
      val docs = Tables(s, dir, "documents")
      val t = "graft_mhidx_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      for (tb <- Seq(t, s"${t}_sigs", s"${t}_mhspec"))
        Warehouse.dropTableAndLocation(s, tb)
      Dedup.writeMinhashIndex(docs.filter(col("doc_id") < 250),
        "text", "doc_id", t, buckets = 8)
      Dedup.nearDedupAgainstIndex(docs.filter(col("doc_id") >= 250),
        "text", "doc_id", t, minEstJaccard = 0.7, update = false)
        .select("doc_id")
        .orderBy("doc_id")
    },

    // L3 (hamming tier): SimHash near-dedup at a HAMMING RADIUS, end to
    // end — the engine d03 only surfaces signatures for. Every 10th
    // document gets a planted near-twin (id + 2000000, one token
    // appended): a one-token mutation flips few SimHash bits, so twins
    // collapse onto their originals through the Manku wide-prefix band
    // join while unrelated documents survive. Rows-only: the survivor
    // set needs 64-bit SimHash + bit_count clustering (d03's
    // DuckDB-inexpressibility argument); the radius/chain/recall
    // semantics are spec- and bench-gated (HammingBench, since deleted)
    // instead.
    "d14_simhash_near_dedup" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents").select("doc_id", "text")
      val twins = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"),
          concat(col("text"), lit(" graftmarker")).as("text"))
      Dedup.simhashNearDedup(docs.unionByName(twins), "text", "doc_id",
          maxHamming = 6)
        .select("doc_id")
        .orderBy("doc_id")
    },

    // L37: cross-run SimHash dedup against a PERSISTED hamming index —
    // d13's shape for the hamming tier. Day 0 (ids < 250) is indexed
    // fresh per call; the probe replays the rest of the corpus plus a
    // MUTATED twin of every 10th day-0 doc (one appended token flips few
    // SimHash bits, so the index catches it at its radius where an exact
    // registry never would). Report-only keeps repeated driver runs
    // deterministic. Rows-only: d03/d14's DuckDB-inexpressibility
    // argument (64-bit SimHash + bit_count); lifecycle semantics are
    // spec-gated.
    "d15_hamming_registry" -> { (s, dir) =>
      import graft.sources.Warehouse
      val docs = Tables(s, dir, "documents").select("doc_id", "text")
      val t = "graft_hidx_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      for (tb <- Seq(t, s"${t}_hspec"))
        Warehouse.dropTableAndLocation(s, tb)
      Dedup.writeHammingIndex(
        docs.filter(col("doc_id") < 250)
          .select(col("doc_id").as("id"), Dedup.simhash(col("text")).as("h")),
        t, maxHamming = 6, buckets = 8)
      val replays = docs
        .filter(col("doc_id") < 250 && col("doc_id") % 10 === 0)
        .select((col("doc_id") + 3000000).as("doc_id"),
          concat(col("text"), lit(" graftmarker")).as("text"))
      Dedup.simhashNearDedupAgainstIndex(
          docs.filter(col("doc_id") >= 250).unionByName(replays),
          "text", "doc_id", t, update = false)
        .select("doc_id")
        .orderBy("doc_id")
    },

    // L20c: span-surgical decontamination — the same bench/corpus split
    // as d06, but removing exactly the 3-token spans any shared 5-gram
    // overlaps and reassembling the clean remainder (docs that are pure
    // benchmark replays disappear; docs quoting one question lose ~one
    // span). Oracle-gated: string grams + the shared span CTE chain.
    "d16_decontaminate_spans" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      Dedup.decontaminateSpans(
        docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20),
        "text", "doc_id", spanTokens = 3, n = 5)
        .orderBy("doc_id")
    },

    // L5: embedding near-dup — nearest neighbor per vector for the first
    // 100 ids (broadcast side is the 100 probes, scan side stays the
    // table); norms computed once per side, dot product only per pair.
    "d05_embed_nn" -> { (s, dir) =>
      import graft.similarity.Similarity
      val emb = Tables(s, dir, "embeddings")
        .withColumn("na", sqrt(Similarity.dot(col("embedding"), col("embedding"))))
      val probes = emb.filter(col("vec_id") < 100)
        .select(col("vec_id").as("probe_id"), col("embedding").as("qvec"), col("na").as("nq"))
      emb.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          round(Similarity.dot(col("embedding"), col("qvec")) / (col("na") * col("nq")), 4).as("sim"))
        // argmax via partial-aggregatable max(struct): no window sort, ties
        // broken toward the lower vec_id (negated in the struct ordering)
        .groupBy(col("probe_id"))
        .agg(max(struct(col("sim"), (-col("vec_id")).as("neg_id"))).as("best"))
        .select(col("probe_id"), (-col("best.neg_id")).as("nn_id"), col("best.sim").as("sim"))
        .orderBy("probe_id")
    },

    // L94: cross-run MEMBERSHIP-SKETCH registry (Bloom) — "has this source
    // possibly sent this token before", over two appended "days", at fixed
    // bits per run and with NO keys stored (the privacy/space complement
    // of the exact d12-family registries; the pipeline use is the cheap
    // first gate in front of one). might_contain = 0 is definitive; OR'd
    // bits make the union idempotent AND one-pass-identical, so the
    // oracle replays the whole filter from the corpus directly. Probes:
    // every seen (source, token) pair (all must hit — no false negatives)
    // plus a planted never-seen key per source.
    "d27_bloom_registry" -> { (s, dir) =>
      val table = "graft_bloomreg_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      if (!s.catalog.tableExists(table)) {
        graft.sources.Warehouse.dropTableAndLocation(s, table)
        graft.operators.BloomReg.createBloomRegistry(s, table, buckets = 4)
        val toks = Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            explode(split(col("text"), " ")).as("token"))
        graft.operators.BloomReg.appendBloom(
          toks.filter(pmod(col("doc_id"), lit(2)) === 0), "source", "token",
          table)
        graft.operators.BloomReg.appendBloom(
          toks.filter(pmod(col("doc_id"), lit(2)) === 1), "source", "token",
          table)
      }
      val docs = Tables(s, dir, "documents")
      val probes = docs
        .select(col("source"), explode(split(col("text"), " ")).as("token"))
        .distinct()
        .unionByName(docs.select(col("source")).distinct()
          .select(col("source"),
            concat(lit("zz_never_"), col("source")).as("token")))
      graft.operators.BloomReg.mightContain(probes, "source", "token", table)
        .select(col("group"), col("key").as("token"), col("might_contain"))
        .orderBy("group", "token")
    }
  )

  /** d18/d22's shared line salt: corpus-shared header/footer, a blank
    * separator, and a "mid k" line shared by every 7th doc. */
  private def lineSalted(docs: org.apache.spark.sql.DataFrame) =
    docs.withColumn("ml_text", concat(
      lit("shared header line\n"), col("text"),
      lit("\n\nmid "), pmod(col("doc_id"), lit(7)).cast("string"),
      lit("\nshared footer line")))

  /** Build (once per sfDir per warehouse) the line-hash registry d22
    * probes, seeded with the doc_id < 250 "day 0" ingest of the salted
    * corpus.
    */
  private def lineRegistryTable(s: SparkSession, dir: String): String = {
    val table = "graft_lineregistry_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    if (!s.catalog.tableExists(table)) {
      graft.sources.Warehouse.dropTableAndLocation(s, table)
      Dedup.createLineRegistry(s, table, buckets = 8)
      Dedup.dedupLinesAgainstRegistry(
        lineSalted(Tables(s, dir, "documents")).filter(col("doc_id") < 250),
        "ml_text", "doc_id", table).count()
    }
    table
  }

  /** Documents rendered as the binary tier's blobs: UTF-8 bytes of the
    * text under a media_id — shared by the CDC queries (d25/d26).
    */
  private def cdcBlobs(docs: org.apache.spark.sql.DataFrame) =
    docs.select(col("doc_id").as("media_id"),
      encode(col("text"), "UTF-8").as("content"))

  /** Build (once per sfDir per warehouse) the chunk registry d26
    * reports against, seeded with the media_id < 250 "day 0" ingest
    * (same CDC geometry as the query — the registry convention).
    */
  private def chunkRegistryTable(s: SparkSession, dir: String): String = {
    val table = "graft_chunkreg_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    if (!s.catalog.tableExists(table)) {
      graft.sources.Warehouse.dropTableAndLocation(s, table)
      graft.dedup.Cdc.createChunkRegistry(s, table, buckets = 8)
      graft.dedup.Cdc.newChunksAgainstRegistry(
        cdcBlobs(Tables(s, dir, "documents")).filter(col("media_id") < 250),
        "content", "media_id", table,
        minSize = 16, avgBits = 5, maxSize = 256).count()
    }
    table
  }

  /** Build (once per sfDir per warehouse) the content-hash registry d12
    * dedups against, seeded with the doc_id < 250 "day 0" ingest.
    */
  private def registryTable(s: SparkSession, dir: String): String = {
    val table = "graft_registry_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    if (!s.catalog.tableExists(table)) {
      graft.sources.Warehouse.dropTableAndLocation(s, table)
      Dedup.createRegistry(s, table, buckets = 8)
      Dedup.dedupAgainstRegistry(
        Tables(s, dir, "documents").filter(col("doc_id") < 250),
        "text", "doc_id", table).count()
    }
    table
  }

  /** The span-CUTTING CTE chain over a source CTE exposing (doc_id, text
    * [, carry columns]): 3-token spans from the empty-token-filtered
    * tokenization, exactly [[graft.dedup.Dedup.dedupSpans]]'s cutting —
    * the single source of truth for span semantics, shared by the d08
    * chain, c03's rewrite stage, and d11's boilerplate profile.
    */
  private[queries] def spanCutCtes(src: String, carry: Seq[String] = Nil): String = {
    val c = carry.map(x => s", $x").mkString
    s"""__sp0 AS (
       |  SELECT doc_id$c,
       |    list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS __stoks
       |  FROM $src),
       |__sp1 AS (
       |  SELECT doc_id$c, __stoks,
       |    UNNEST(generate_series(0, CAST(ceil(len(__stoks) / 3.0) AS BIGINT) - 1)) AS pos
       |  FROM __sp0),
       |__sp AS (
       |  SELECT doc_id$c, pos,
       |    array_to_string(__stoks[(pos*3+1):(pos*3+3)], ' ') AS span
       |  FROM __sp1)""".stripMargin
  }

  /** [[spanCutCtes]] plus the dedup winner rule: keep the corpus-first
    * occurrence of each span ((doc_id, pos) lexicographic min) as
    * `__kept`. SHARED with [[PipelineQ]]'s c03 span stage so the two
    * oracles can never drift from each other — any span-semantics change
    * edits this chain once and both gates re-verify it.
    */
  private[queries] def spanDedupCtes(src: String): String =
    s"""${spanCutCtes(src)},
       |__pd AS (SELECT doc_id, span, MIN(pos) AS pos FROM __sp GROUP BY doc_id, span),
       |__kw AS (
       |  SELECT doc_id, span, pos,
       |    ROW_NUMBER() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
       |  FROM __pd),
       |__kept AS (SELECT doc_id, span, pos FROM __kw WHERE rn = 1)""".stripMargin

  val oracles: Map[String, String] = baseOracles +
    // d29: BRUTE FORCE is the oracle — blocking is a pure optimization
    // on the Spark side (recall-exact by the prefix-filter theorem), so
    // the verified pair set must equal the all-pairs scan. DuckDB's
    // levenshtein counts code points like Spark's.
    ("d29_fuzzy_titles" ->
      """WITH t AS (
        |  SELECT doc_id, substr(text, 1, 24) AS title FROM documents
        |  WHERE doc_id < 2000)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(levenshtein(a.title, b.title) AS BIGINT) AS dist
        |FROM t a JOIN t b ON a.doc_id < b.doc_id
        |WHERE levenshtein(a.title, b.title) <= 6
        |ORDER BY a_id, b_id""".stripMargin) +
    // d32: brute-force block + DuckDB's own jaro_winkler_similarity —
    // an independent implementation; the double scores must match
    // bit-for-bit (same standard: window matching, half-transpositions,
    // 0.7-thresholded Winkler boost)
    ("d32_jw_titles" ->
      """WITH t AS (
        |  SELECT doc_id, substr(text, 1, 24) AS title FROM documents
        |  WHERE doc_id < 2000)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  jaro_winkler_similarity(a.title, b.title) AS jw
        |FROM t a JOIN t b ON a.doc_id < b.doc_id
        |WHERE levenshtein(a.title, b.title) <= 6
        |  AND jaro_winkler_similarity(a.title, b.title) >= 0.8
        |ORDER BY a_id, b_id""".stripMargin) +
    // d33: brute force with DuckDB's own unrestricted
    // damerau_levenshtein — an independent implementation of the same
    // Lowrance–Wagner metric (CA→ABC = 2 pins the variant)
    ("d33_damerau_titles" ->
      """WITH t AS (
        |  SELECT doc_id, substr(text, 1, 24) AS title FROM documents
        |  WHERE doc_id < 2000)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(damerau_levenshtein(a.title, b.title) AS BIGINT) AS dist
        |FROM t a JOIN t b ON a.doc_id < b.doc_id
        |WHERE damerau_levenshtein(a.title, b.title) <= 4
        |ORDER BY a_id, b_id""".stripMargin) +
    // d30: the same brute-force pair set closed with the d23 recursive
    // min-label fixpoint — entity_id = MIN reachable id
    ("d30_fuzzy_clusters" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, substr(text, 1, 24) AS title FROM documents
        |  WHERE doc_id < 2000),
        |p AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM t a JOIN t b ON a.doc_id < b.doc_id
        |  WHERE levenshtein(a.title, b.title) <= 6),
        |e AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
        |nodes AS (SELECT DISTINCT a AS id FROM e),
        |r AS (
        |  SELECT id, id AS label FROM nodes
        |  UNION
        |  SELECT e.a AS id, r.label FROM e JOIN r ON r.id = e.b)
        |SELECT id, MIN(label) AS entity_id FROM r GROUP BY id
        |ORDER BY id""".stripMargin) +
    // d23 = the cluster-size histogram over d09's pairs: DuckDB computes
    // the connected components with a recursive min-label closure (labels
    // propagate along symmetric edges until the fixpoint; UNION dedup
    // terminates it), then MIN per node ≡ dupClusters' min-label
    // semantics, then the same two group-bys.
    ("d23_dup_cluster_profile" ->
      s"""WITH RECURSIVE p AS (
         |  SELECT a, b FROM (
         |${baseOracles("d09_cosine_dup_pairs")})),
         |e AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
         |nodes AS (SELECT DISTINCT a AS id FROM e),
         |r AS (
         |  SELECT id, id AS label FROM nodes
         |  UNION
         |  SELECT e.a AS id, r.label FROM e JOIN r ON r.id = e.b),
         |lab AS (SELECT id, MIN(label) AS label FROM r GROUP BY id),
         |sz AS (SELECT label, COUNT(*) AS cluster_size FROM lab GROUP BY label)
         |SELECT cluster_size, COUNT(*) AS n_clusters,
         |  cluster_size * COUNT(*) AS n_docs
         |FROM sz GROUP BY cluster_size
         |ORDER BY cluster_size DESC""".stripMargin) +
    // d31: d09's pairs → the d23 recursive min-label closure → every id
    // (the base slice PLUS the planted twins — singletons label
    // themselves) → the t07 md5-bucket split applied to the LABEL string
    ("d31_cluster_split" ->
      s"""WITH RECURSIVE p AS (
         |  SELECT a, b FROM (
         |${baseOracles("d09_cosine_dup_pairs")})),
         |e AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
         |nodes AS (SELECT DISTINCT a AS id FROM e),
         |r AS (
         |  SELECT id, id AS label FROM nodes
         |  UNION
         |  SELECT e.a AS id, r.label FROM e JOIN r ON r.id = e.b),
         |lab AS (SELECT id, MIN(label) AS label FROM r GROUP BY id),
         |ids AS (
         |  SELECT vec_id FROM embeddings WHERE vec_id < 1000
         |  UNION ALL
         |  SELECT vec_id + 1000000 FROM embeddings
         |  WHERE vec_id < 1000 AND vec_id % 10 = 0),
         |cl AS (
         |  SELECT ids.vec_id, COALESCE(lab.label, ids.vec_id) AS cluster
         |  FROM ids LEFT JOIN lab ON lab.id = ids.vec_id)
         |SELECT vec_id, cluster,
         |  CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM (SELECT vec_id, cluster,
         |        CAST(('0x' || substring(md5(CAST(cluster AS VARCHAR)), 1, 6))
         |             AS BIGINT) % 100 AS b
         |      FROM cl)
         |ORDER BY vec_id""".stripMargin) +
    // d24: the naive full-postings containment join over STRING shingles
    // (the engine joins 64-bit shingle hashes and prefix-filters the
    // candidate side — count-identical absent a 2^-65 collision; the
    // prefix≡naive equivalence is spec-gated in ContainmentSpec).
    ("d24_containment" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ts
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT t.doc_id, t.ts[i] || ' ' || t.ts[i+1] || ' ' || t.ts[i+2] AS s
        |  FROM tok t, UNNEST(generate_series(1, len(t.ts) - 2)) AS g(i)
        |  WHERE len(t.ts) >= 3),
        |na AS (SELECT doc_id, COUNT(*) AS n_a FROM sh GROUP BY doc_id),
        |common AS (
        |  SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
        |    COUNT(*) AS n_common
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT c.contained_id, c.container_id,
        |  CAST(c.n_common AS BIGINT) AS n_common, CAST(n.n_a AS BIGINT) AS n_a
        |FROM common c JOIN na n ON n.doc_id = c.contained_id
        |WHERE n.n_a >= 10 AND c.n_common * 100 >= 80 * n.n_a
        |ORDER BY contained_id, container_id""".stripMargin) +
    // d02: the FULL minhash identity recomputed in SQL — scala murmur3
    // token hashes (OracleHashLib macros), the 3-gram FNV-style fold, the
    // splitmix64(seed=42) permutation minima (signed comparison), and the
    // 16-band FNV bucket fold. Token/gram hashing rides a distinct-token
    // vocabulary (the synthetic corpus vocabulary is tiny).
    ("d02_minhash_bands" ->
      (OracleHashLib.preamble +
        s"""WITH ${OracleHashLib.minhashSiglistCtes("documents")}
           #${OracleHashLib.bandSelect}
           #ORDER BY doc_id, band""".stripMargin('#'))) +
    // d13: the cross-run MinHash index probe — day 0 (<250) is the index
    // (band rows capped to the min-id 1000 per (band, bucket), the
    // writeMinhashIndex cap), the batch (>=250) bands the same way,
    // candidates share a (band, bucket), and the verify is the exact
    // component-match fraction >= 0.7 (m/64 is exact in double).
    ("d13_near_registry" ->
      (OracleHashLib.preamble +
        s"""WITH ${OracleHashLib.minhashSiglistCtes("documents")},
           #allbands AS MATERIALIZED (
           #  ${OracleHashLib.bandSelect}
           #), ixbands AS (
           #  SELECT doc_id, band, bucket FROM allbands WHERE doc_id < 250
           #  QUALIFY row_number() OVER (PARTITION BY band, bucket
           #                             ORDER BY doc_id) <= 1000
           #), cand AS (
           #  SELECT DISTINCT b.doc_id AS bid, i.doc_id AS cid
           #  FROM allbands b JOIN ixbands i USING (band, bucket)
           #  WHERE b.doc_id >= 250
           #), dropped AS (
           #  SELECT DISTINCT c.bid
           #  FROM cand c
           #  JOIN siglist sb ON sb.doc_id = c.bid
           #  JOIN siglist sc ON sc.doc_id = c.cid
           #  WHERE len(list_filter(range(1, 65),
           #          i -> sb.sig[i] = sc.sig[i]))::DOUBLE / 64 >= 0.7
           #)
           #SELECT doc_id FROM documents
           #WHERE doc_id >= 250
           #  AND doc_id NOT IN (SELECT bid FROM dropped)
           #ORDER BY doc_id""".stripMargin('#'))) +
    // d15: the cross-run hamming index probe — day-0 SimHashes are the
    // index, the batch (>=250 plus mutated +3000000 replays) drops every
    // id within hamming 6 of ANY indexed fingerprint. Candidates via the
    // same 7-block pigeonhole as d14 (lossless at radius 6), verified
    // with bit_count(xor). (The index's 10000-per-bucket flood cap never
    // engages on this corpus, as in d14's oracle.)
    ("d15_hamming_registry" ->
      (OracleHashLib.preamble +
        s"""WITH docs AS (
           #  SELECT doc_id, text FROM documents
           #  UNION ALL
           #  SELECT doc_id + 3000000 AS doc_id, text || ' graftmarker' AS text
           #  FROM documents WHERE doc_id < 250 AND doc_id % 10 = 0
           #), ${OracleHashLib.simhashCtes("docs")},
           #blocks AS MATERIALIZED (
           #  SELECT doc_id, h, bi,
           #    CASE bi
           #      WHEN 0 THEN (h >> 54) & 1023
           #      WHEN 1 THEN (h >> 45) & 511
           #      WHEN 2 THEN (h >> 36) & 511
           #      WHEN 3 THEN (h >> 27) & 511
           #      WHEN 4 THEN (h >> 18) & 511
           #      WHEN 5 THEN (h >> 9) & 511
           #      ELSE h & 511 END AS bv
           #  FROM simh, (SELECT unnest(range(0, 7)) AS bi)
           #), dropped AS (
           #  SELECT DISTINCT b.doc_id
           #  FROM blocks b JOIN blocks i USING (bi, bv)
           #  WHERE i.doc_id < 250 AND NOT (b.doc_id < 250)
           #    AND bit_count(xor(b.h, i.h)) <= 6
           #)
           #SELECT doc_id FROM docs
           #WHERE doc_id >= 250
           #  AND doc_id NOT IN (SELECT doc_id FROM dropped)
           #ORDER BY doc_id""".stripMargin('#'))) +
    // d03: SimHash recomputed — per-token (stringHash(t) << 32 |
    // stringHash(reverse(t))) and the per-bit majority vote.
    ("d03_simhash" ->
      (OracleHashLib.preamble +
        s"""WITH ${OracleHashLib.simhashCtes("documents")}
           #SELECT doc_id, h AS simhash64 FROM simh ORDER BY doc_id""".stripMargin('#'))) +
    // d14: SimHash near-dedup — the two-tier drop rule collapses to "keep
    // the min doc_id of each connected component of the hamming<=6 graph
    // over DISTINCT fingerprints" (exact tier keeps min per h; near tier
    // keeps the min rep per component; reps are min-per-h, so the kept id
    // is the component's global min). Candidates via a 7-block pigeonhole
    // band join (lossless for radius 6), verified with bit_count(xor),
    // components via recursive min-label closure.
    ("d14_simhash_near_dedup" ->
      (OracleHashLib.preamble +
        s"""WITH docs AS (
           #  SELECT doc_id, text FROM documents
           #  UNION ALL
           #  SELECT doc_id + 2000000 AS doc_id, text || ' graftmarker' AS text
           #  FROM documents WHERE doc_id % 10 = 0
           #), ${OracleHashLib.simhashCtes("docs")},
           #reps AS MATERIALIZED (
           #  SELECT h, min(doc_id) AS rep FROM simh GROUP BY h
           #), blocks AS (
           #  SELECT h, rep, bi,
           #    CASE bi
           #      WHEN 0 THEN (h >> 54) & 1023
           #      WHEN 1 THEN (h >> 45) & 511
           #      WHEN 2 THEN (h >> 36) & 511
           #      WHEN 3 THEN (h >> 27) & 511
           #      WHEN 4 THEN (h >> 18) & 511
           #      WHEN 5 THEN (h >> 9) & 511
           #      ELSE h & 511 END AS bv
           #  FROM reps, (SELECT unnest(range(0, 7)) AS bi)
           #), edges AS MATERIALIZED (
           #  SELECT DISTINCT a.h AS h1, b.h AS h2
           #  FROM blocks a JOIN blocks b USING (bi, bv)
           #  WHERE a.h <> b.h AND bit_count(xor(a.h, b.h)) <= 6
           #), comp AS (
           #  WITH RECURSIVE c(h, lbl) AS (
           #    SELECT h, rep FROM reps
           #    UNION
           #    SELECT e.h2, c.lbl FROM c JOIN edges e ON c.h = e.h1
           #  ) SELECT h, min(lbl) AS lbl FROM c GROUP BY h
           #)
           #SELECT s.doc_id
           #FROM simh s JOIN comp c USING (h)
           #WHERE s.doc_id = c.lbl
           #ORDER BY s.doc_id""".stripMargin('#'))) +
    // d25: gear-CDC chunking recomputed in SQL (OracleHashLib.cdcChunkCtes
    // — exact boundaries + FNV-1a chunk hashes), then the containment
    // semantics over chunk-hash sets through the naive shared-chunk join.
    ("d25_cdc_containment" ->
      (OracleHashLib.preamble +
        s"""WITH ${OracleHashLib.cdcChunkCtes("",
             s"""SELECT doc_id AS media_id, text AS txt FROM documents
               #  UNION ALL
               #  SELECT doc_id + 100000 AS media_id,
               #         ${OracleHashLib.BannerSql} || text AS txt
               #  FROM documents WHERE doc_id % 10 = 0""".stripMargin('#'))},
           #sets AS (
           #  SELECT media_id, count(DISTINCT chunk_hash) AS na
           #  FROM chunks GROUP BY media_id
           #), dchunks AS (
           #  SELECT DISTINCT media_id, chunk_hash FROM chunks
           #), pairs AS (
           #  SELECT a.media_id AS contained_id, b.media_id AS container_id,
           #         count(*) AS n_common
           #  FROM dchunks a JOIN dchunks b USING (chunk_hash)
           #  WHERE a.media_id <> b.media_id
           #  GROUP BY 1, 2
           #)
           #SELECT p.contained_id, p.container_id,
           #       p.n_common::BIGINT AS n_common, s.na::BIGINT AS n_a
           #FROM pairs p JOIN sets s ON s.media_id = p.contained_id
           #WHERE s.na >= 4 AND p.n_common * 100 >= 70 * s.na
           #ORDER BY contained_id, container_id""".stripMargin('#'))) +
    // d26: the chunk-registry report — the registry is day 0's (<250)
    // distinct chunk hashes, recomputed with the same CDC geometry; then
    // batch winners (min id per chunk), anti-join, per-blob report.
    ("d26_chunk_registry" ->
      (OracleHashLib.preamble +
        s"""WITH ${OracleHashLib.cdcChunkCtes("",
             s"""SELECT doc_id AS media_id, text AS txt FROM documents
               #  WHERE doc_id >= 250
               #  UNION ALL
               #  SELECT doc_id + 100000 AS media_id,
               #         ${OracleHashLib.BannerSql} || text AS txt
               #  FROM documents WHERE doc_id < 250""".stripMargin('#'))},
           #${OracleHashLib.cdcChunkCtes("r",
             "SELECT doc_id AS media_id, text AS txt FROM documents WHERE doc_id < 250")},
           #registry AS (SELECT DISTINCT chunk_hash FROM rchunks),
           #perblob AS (
           #  SELECT media_id AS id, chunk_hash, min(ln) AS length
           #  FROM chunks GROUP BY 1, 2
           #), winners AS (
           #  SELECT chunk_hash, min(id) AS win_id, min(length) AS length
           #  FROM perblob GROUP BY 1
           #), fresh AS (
           #  SELECT * FROM winners
           #  WHERE chunk_hash NOT IN (SELECT chunk_hash FROM registry)
           #), pernew AS (
           #  SELECT win_id AS id, count(*) AS n_new_chunks,
           #         sum(length)::BIGINT AS new_bytes
           #  FROM fresh GROUP BY 1
           #)
           #SELECT p.id, count(*)::BIGINT AS n_chunks,
           #       coalesce(any_value(n.n_new_chunks), 0)::BIGINT AS n_new_chunks,
           #       coalesce(any_value(n.new_bytes), 0)::BIGINT AS new_bytes
           #FROM perblob p LEFT JOIN pernew n USING (id)
           #GROUP BY p.id
           #ORDER BY id""".stripMargin('#')))

  private lazy val baseOracles: Map[String, String] = Map(
    "d01_exact_dedup" ->
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS canonical_id,
        |  COUNT(*) AS dup_count
        |FROM documents
        |GROUP BY 1
        |ORDER BY canonical_id""".stripMargin,

    // Same planted replicas, synthetic score, and argmax-then-min-id
    // retention rule as Dedup.exactKeepBest (the min_by aggregation is an
    // execution detail; the QUALIFY window is the semantic spec).
    "d17_dedup_keep_best" ->
      """WITH pool AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 5000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0),
        |sc AS (
        |  SELECT doc_id, text,
        |    CAST((doc_id * 37) % 101 AS DOUBLE) AS score
        |  FROM pool)
        |SELECT doc_id, score
        |FROM sc
        |QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY score DESC, doc_id) = 1
        |ORDER BY doc_id""".stripMargin,

    // Same salt, same sliding windows as strings, same corpus-first
    // winner and per-occurrence coverage removal.
    "d19_substring_dedup" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 3 AS INTEGER)
        |      WHEN 1 THEN 'pad ' WHEN 2 THEN 'pad pad ' ELSE '' END ||
        |    'alpha beta gamma delta epsilon zeta eta theta ' || text AS ml
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(ml, '\s+'), x -> x <> '') AS toks
        |  FROM s),
        |wu AS (
        |  SELECT doc_id, toks,
        |    unnest(CASE WHEN len(toks) >= 8 THEN
        |      list_transform(generate_series(0, len(toks) - 8),
        |        i -> {'pos': i, 'win': array_to_string(toks[i+1:i+8], ' ')})
        |      ELSE [] END) AS u
        |  FROM tok),
        |win AS (SELECT doc_id, u.pos AS pos, u.win AS win FROM wu),
        |w2 AS (
        |  SELECT doc_id, pos,
        |    row_number() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rn
        |  FROM win),
        |rem AS (SELECT doc_id, list(pos) AS rs FROM w2 WHERE rn > 1 GROUP BY doc_id),
        |out AS (
        |  SELECT t.doc_id,
        |    CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |    list_filter(
        |      list_transform(generate_series(1, len(t.toks)), j ->
        |        CASE WHEN r.rs IS NULL OR
        |          len(list_filter(r.rs, sp -> sp <= j - 1 AND j - 1 < sp + 8)) = 0
        |          THEN t.toks[j] END),
        |      x -> x IS NOT NULL) AS kept
        |  FROM tok t LEFT JOIN rem r USING (doc_id))
        |SELECT doc_id, n_tokens,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  array_to_string(kept, ' ') AS dedup_text
        |FROM out
        |WHERE len(kept) >= 1
        |ORDER BY doc_id""".stripMargin,

    // Same salt and window election as the Spark side; removal stats come
    // from gaps-and-islands over the covered positions (merged maximal
    // extents), the exact-boundary semantics of the variable-length tier.
    "d20_maximal_repeat_dedup" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 3 AS INTEGER)
        |      WHEN 1 THEN 'pad ' WHEN 2 THEN 'pad pad ' ELSE '' END ||
        |    'sigma tau upsilon phi chi ' || text AS ml
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(ml, '\s+'), x -> x <> '') AS toks
        |  FROM s),
        |wu AS (
        |  SELECT doc_id, toks,
        |    unnest(CASE WHEN len(toks) >= 4 THEN
        |      list_transform(generate_series(0, len(toks) - 4),
        |        i -> {'pos': i, 'win': array_to_string(toks[i+1:i+4], ' ')})
        |      ELSE [] END) AS u
        |  FROM tok),
        |win AS (SELECT doc_id, u.pos AS pos, u.win AS win FROM wu),
        |w2 AS (
        |  SELECT doc_id, pos,
        |    row_number() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rn
        |  FROM win),
        |rem AS (SELECT doc_id, list(pos) AS rs FROM w2 WHERE rn > 1 GROUP BY doc_id),
        |cov AS (
        |  SELECT t.doc_id, t.toks,
        |    list_transform(generate_series(1, len(t.toks)), j ->
        |      r.rs IS NOT NULL AND
        |      len(list_filter(r.rs, sp -> sp <= j - 1 AND j - 1 < sp + 4)) > 0) AS cv
        |  FROM tok t LEFT JOIN rem r USING (doc_id)),
        |cu AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(cv)),
        |    j -> {'j': j - 1, 'c': cv[j]})) AS u
        |  FROM cov),
        |cflat AS (SELECT doc_id, u.j AS j FROM cu WHERE u.c),
        |isl AS (SELECT doc_id, j,
        |  j - row_number() OVER (PARTITION BY doc_id ORDER BY j) AS g FROM cflat),
        |seg AS (SELECT doc_id, COUNT(*) AS slen FROM isl GROUP BY doc_id, g),
        |st AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_seg,
        |  CAST(MAX(slen) AS BIGINT) AS max_len FROM seg GROUP BY doc_id),
        |outp AS (
        |  SELECT c.doc_id,
        |    CAST(len(c.toks) AS BIGINT) AS n_tokens,
        |    list_filter(list_transform(generate_series(1, len(c.toks)),
        |      j -> CASE WHEN NOT c.cv[j] THEN c.toks[j] END),
        |      x -> x IS NOT NULL) AS kept,
        |    CAST(COALESCE(st.n_seg, 0) AS BIGINT) AS n_repeats_removed,
        |    CAST(COALESCE(st.max_len, 0) AS BIGINT) AS max_repeat_len
        |  FROM cov c LEFT JOIN st USING (doc_id))
        |SELECT doc_id, n_tokens,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  n_repeats_removed, max_repeat_len,
        |  array_to_string(kept, ' ') AS dedup_text
        |FROM outp
        |WHERE len(kept) >= 1
        |ORDER BY doc_id""".stripMargin,

    // Coverage counts EVERY occurrence of a >=2-occurrence window; merged
    // islands carry their start so the extent text can be sliced back out.
    "d21_repeat_mining" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 3 AS INTEGER)
        |      WHEN 1 THEN 'pad ' WHEN 2 THEN 'pad pad ' ELSE '' END ||
        |    'sigma tau upsilon phi chi ' || text AS ml
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(ml, '\s+'), x -> x <> '') AS toks
        |  FROM s),
        |wu AS (
        |  SELECT doc_id, toks,
        |    unnest(CASE WHEN len(toks) >= 4 THEN
        |      list_transform(generate_series(0, len(toks) - 4),
        |        i -> {'pos': i, 'win': array_to_string(toks[i+1:i+4], ' ')})
        |      ELSE [] END) AS u
        |  FROM tok),
        |win AS (SELECT doc_id, u.pos AS pos, u.win AS win FROM wu),
        |w2 AS (
        |  SELECT doc_id, pos,
        |    COUNT(*) OVER (PARTITION BY win) AS cnt
        |  FROM win),
        |covs AS (SELECT doc_id, list(pos) AS cs FROM w2 WHERE cnt >= 2 GROUP BY doc_id),
        |cov AS (
        |  SELECT t.doc_id, t.toks,
        |    list_transform(generate_series(1, len(t.toks)), j ->
        |      len(list_filter(c.cs, sp -> sp <= j - 1 AND j - 1 < sp + 4)) > 0) AS cv
        |  FROM tok t JOIN covs c USING (doc_id)),
        |cu AS (
        |  SELECT doc_id, toks, unnest(list_transform(generate_series(1, len(cv)),
        |    j -> {'j': j - 1, 'c': cv[j]})) AS u
        |  FROM cov),
        |cflat AS (SELECT doc_id, toks, u.j AS j FROM cu WHERE u.c),
        |isl AS (SELECT doc_id, toks, j,
        |  j - row_number() OVER (PARTITION BY doc_id ORDER BY j) AS g FROM cflat),
        |seg AS (SELECT doc_id, MIN(j) AS st, COUNT(*) AS slen,
        |    array_to_string(any_value(toks)[MIN(j)+1:MIN(j)+COUNT(*)], ' ') AS rt
        |  FROM isl GROUP BY doc_id, g),
        |prof AS (
        |  SELECT rt AS repeat_text, CAST(slen AS BIGINT) AS repeat_len,
        |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |    CAST(COUNT(*) AS BIGINT) AS n_occurrences
        |  FROM seg GROUP BY rt, slen)
        |SELECT repeat_text, repeat_len, n_docs, n_occurrences
        |FROM prof
        |ORDER BY n_occurrences DESC, repeat_text
        |LIMIT 50""".stripMargin,

    // Same salt, same corpus-first-occurrence-per-line semantics: zipped
    // unnest gives (pos, line), blanks bypass competition per occurrence.
    "d18_line_dedup" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    'shared header line' || chr(10) || text || chr(10) || chr(10) ||
        |    'mid ' || CAST(doc_id % 7 AS VARCHAR) || chr(10) ||
        |    'shared footer line' AS ml FROM documents),
        |lu AS (
        |  SELECT doc_id,
        |    unnest(list_transform(string_split(ml, chr(10)),
        |      (x, i) -> {'pos': i - 1, 'ln': x})) AS u
        |  FROM s),
        |l AS (SELECT doc_id, u.pos AS pos, u.ln AS ln FROM lu),
        |pd AS (
        |  SELECT doc_id, ln, MIN(pos) AS pos FROM l
        |  WHERE trim(ln) <> '' GROUP BY doc_id, ln),
        |keepnb AS (
        |  SELECT doc_id, pos, ln FROM pd
        |  QUALIFY row_number() OVER (PARTITION BY ln ORDER BY doc_id, pos) = 1),
        |k AS (
        |  SELECT doc_id, pos, ln FROM keepnb
        |  UNION ALL
        |  SELECT doc_id, pos, ln FROM l WHERE trim(ln) = ''),
        |agg AS (
        |  SELECT doc_id,
        |    CAST(COUNT(*) FILTER (WHERE trim(ln) <> '') AS BIGINT) AS n_kept,
        |    string_agg(ln, chr(10) ORDER BY pos) AS dedup_text
        |  FROM k GROUP BY doc_id)
        |SELECT doc_id, n_kept, dedup_text FROM agg
        |WHERE n_kept >= 1
        |ORDER BY doc_id""".stripMargin,

    // Cross-run line registry ≡ anti-join on the line STRINGS: the
    // registry is the distinct non-blank day-0 lines (every distinct line
    // has exactly one kept corpus-first winner, and day 0 seeded an empty
    // registry, so registered = distinct); day-2 lines keep batch-first
    // winners not registered day 0, blanks ride along as structure.
    "d22_line_registry" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    'shared header line' || chr(10) || text || chr(10) || chr(10) ||
        |    'mid ' || CAST(doc_id % 7 AS VARCHAR) || chr(10) ||
        |    'shared footer line' AS ml FROM documents),
        |lu AS (
        |  SELECT doc_id,
        |    unnest(list_transform(string_split(ml, chr(10)),
        |      (x, i) -> {'pos': i - 1, 'ln': x})) AS u
        |  FROM s),
        |l AS (SELECT doc_id, u.pos AS pos, u.ln AS ln FROM lu),
        |reg AS (
        |  SELECT DISTINCT ln FROM l WHERE doc_id < 250 AND trim(ln) <> ''),
        |l2 AS (SELECT doc_id, pos, ln FROM l WHERE doc_id >= 250),
        |pd AS (
        |  SELECT doc_id, ln, MIN(pos) AS pos FROM l2
        |  WHERE trim(ln) <> '' GROUP BY doc_id, ln),
        |keepnb AS (
        |  SELECT doc_id, pos, ln FROM pd
        |  QUALIFY row_number() OVER (PARTITION BY ln ORDER BY doc_id, pos) = 1),
        |fresh AS (
        |  SELECT doc_id, pos, ln FROM keepnb k
        |  WHERE NOT EXISTS (SELECT 1 FROM reg r WHERE r.ln = k.ln)),
        |k AS (
        |  SELECT doc_id, pos, ln FROM fresh
        |  UNION ALL
        |  SELECT doc_id, pos, ln FROM l2 WHERE trim(ln) = ''),
        |agg AS (
        |  SELECT doc_id,
        |    CAST(COUNT(*) FILTER (WHERE trim(ln) <> '') AS BIGINT) AS n_kept,
        |    string_agg(ln, chr(10) ORDER BY pos) AS dedup_text
        |  FROM k GROUP BY doc_id)
        |SELECT doc_id, n_kept, dedup_text FROM agg
        |WHERE n_kept >= 1
        |ORDER BY doc_id""".stripMargin,

    // String-bigram Jaccard over the same adjacent-rank candidate pairs:
    // identical ratios to the hashed-gram sets barring 64-bit collisions.
    "d04_jaccard_pairs" ->
      """WITH g AS (
        |  SELECT doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn,
        |    list_distinct(CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
        |    END) AS grams
        |  FROM (SELECT doc_id, source, text,
        |          string_split_regex(text, '\s+') AS toks FROM documents)),
        |p AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b,
        |    CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) AS inter,
        |    CAST(len(a.grams) + len(b.grams) AS DOUBLE) AS tot
        |  FROM g a JOIN g b ON a.source = b.source AND b.rn = a.rn + 1)
        |SELECT a, b, ROUND(inter / (tot - inter), 4) AS jaccard
        |FROM p
        |ORDER BY jaccard DESC, a, b
        |LIMIT 50""".stripMargin,

    // d28: the same adjacent pairs and textual bigram sets as d04's
    // oracle, surfaced as evidence columns (integral-ppm Jaccard, min
    // shared gram)
    "d28_dup_explain" ->
      """WITH t AS (
        |  SELECT doc_id, source, string_split_regex(text, '\s+') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn,
        |    list_distinct(CASE WHEN len(toks) < 2
        |      THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(range(1, len(toks)),
        |             i -> toks[i] || ' ' || toks[i+1]) END) AS grams
        |  FROM t),
        |j AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b, a.grams AS ga, b.grams AS gb,
        |    list_intersect(a.grams, b.grams) AS sh
        |  FROM g a JOIN g b ON a.source = b.source AND b.rn = a.rn + 1)
        |SELECT a, b, CAST(len(ga) AS INT) AS n_a, CAST(len(gb) AS INT) AS n_b,
        |  CAST(len(sh) AS INT) AS n_shared,
        |  CASE WHEN len(ga) + len(gb) - len(sh) > 0
        |       THEN (len(sh) * 1000000) // (len(ga) + len(gb) - len(sh))
        |  END AS jaccard_ppm,
        |  list_aggregate(sh, 'min') AS example_gram
        |FROM j
        |ORDER BY a, b""".stripMargin,

    // Same 5-gram sets as Dedup.contamination, spelled with string grams.
    "d06_contamination" ->
      """WITH g AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
        |    ELSE list_transform(range(1, len(toks) - 3),
        |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
        |                toks[i+3] || ' ' || toks[i+4])
        |    END) AS grams
        |  FROM (SELECT doc_id, text, string_split_regex(text, '\s+') AS toks
        |        FROM documents)),
        |bench AS (SELECT DISTINCT unnest(grams) AS gr FROM g WHERE doc_id < 20),
        |corpus AS (SELECT doc_id, unnest(grams) AS gr FROM g WHERE doc_id >= 20)
        |SELECT doc_id, COUNT(*) AS n_shared
        |FROM corpus JOIN bench USING (gr)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    // d07 computes the identical report through the Bloom path — the gate
    // against the SAME oracle is what certifies the equivalence.
    "d07_contamination_bloom" ->
      """WITH g AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
        |    ELSE list_transform(range(1, len(toks) - 3),
        |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
        |                toks[i+3] || ' ' || toks[i+4])
        |    END) AS grams
        |  FROM (SELECT doc_id, text, string_split_regex(text, '\s+') AS toks
        |        FROM documents)),
        |bench AS (SELECT DISTINCT unnest(grams) AS gr FROM g WHERE doc_id < 20),
        |corpus AS (SELECT doc_id, unnest(grams) AS gr FROM g WHERE doc_id >= 20)
        |SELECT doc_id, COUNT(*) AS n_shared
        |FROM corpus JOIN bench USING (gr)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    // Same empty-filtered tokenization on BOTH the gram and span sides
    // (decontaminateSpans' convention — positions must align), the same
    // overlap rule (a gram starting at 0-based token p covers spans
    // floor(p/3)..floor((p+4)/3)), the shared span CTE chain for the cut.
    "d16_decontaminate_spans" ->
      s"""WITH tf AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |bench AS (
        |  SELECT DISTINCT unnest(CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
        |    ELSE list_transform(range(1, len(toks) - 3),
        |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
        |                toks[i+3] || ' ' || toks[i+4]) END) AS gr
        |  FROM tf WHERE doc_id < 20),
        |cg AS (
        |  SELECT doc_id,
        |    unnest(CASE WHEN len(toks) < 5 THEN [CAST(0 AS BIGINT)]
        |      ELSE list_transform(range(1, len(toks) - 3), i -> i - 1) END) AS p,
        |    unnest(CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(range(1, len(toks) - 3),
        |             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
        |                  toks[i+3] || ' ' || toks[i+4]) END) AS gr
        |  FROM tf WHERE doc_id >= 20),
        |bad AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(range(CAST(floor(p / 3.0) AS BIGINT),
        |                 CAST(floor((p + 4) / 3.0) AS BIGINT) + 1)) AS pos
        |  FROM cg JOIN bench USING (gr)),
        |t AS (SELECT doc_id, text FROM documents WHERE doc_id >= 20),
        |${spanCutCtes("t")},
        |tot AS (SELECT doc_id, CAST(ceil(len(__stoks) / 3.0) AS BIGINT) AS n_spans
        |        FROM __sp0),
        |kept AS (
        |  SELECT s.doc_id, s.pos, s.span
        |  FROM __sp s LEFT JOIN bad b ON s.doc_id = b.doc_id AND s.pos = b.pos
        |  WHERE b.doc_id IS NULL)
        |SELECT doc_id, n_spans, COUNT(*) AS n_kept,
        |  string_agg(span, ' ' ORDER BY pos) AS clean_text
        |FROM kept JOIN tot USING (doc_id)
        |GROUP BY doc_id, n_spans
        |ORDER BY doc_id""".stripMargin,

    // Same span cutting (3-token windows, edge empty tokens filtered),
    // same corpus-first winner rule ((doc_id, pos) lexicographic min),
    // same space-joined reassembly — via the shared CTE chain also used
    // by c03's span stage.
    "d08_span_dedup" ->
      s"""WITH t AS (SELECT doc_id, text FROM documents),
        |${spanDedupCtes("t")},
        |tot AS (
        |  SELECT doc_id, CAST(ceil(len(__stoks) / 3.0) AS BIGINT) AS n_spans
        |  FROM __sp0)
        |SELECT doc_id, n_spans, COUNT(*) AS n_kept,
        |  string_agg(span, ' ' ORDER BY pos) AS dedup_text
        |FROM __kept JOIN tot USING (doc_id)
        |GROUP BY doc_id, n_spans
        |ORDER BY doc_id""".stripMargin,

    // Same salt, same span cutting (the shared CTE chain), same distinct
    // doc counting and rounded fraction.
    "d11_boilerplate" ->
      s"""WITH t AS (
        |  SELECT doc_id, source,
        |    source || ' standard header line alpha beta ' || text AS text
        |  FROM documents),
        |${spanCutCtes("t", Seq("source"))},
        |ds AS (SELECT DISTINCT doc_id, source, span FROM __sp),
        |cnt AS (SELECT source, span, COUNT(*) AS n_docs FROM ds GROUP BY source, span),
        |tot AS (SELECT source, COUNT(DISTINCT doc_id) AS srcdocs
        |        FROM documents GROUP BY source)
        |SELECT source, span, n_docs,
        |  ROUND(CAST(n_docs AS DOUBLE) / srcdocs, 4) AS doc_frac
        |FROM cnt JOIN tot USING (source)
        |WHERE ROUND(CAST(n_docs AS DOUBLE) / srcdocs, 4) >= 0.08
        |ORDER BY source, span""".stripMargin,

    // Anti-join on the content hash ≡ anti-join on the text (collisions
    // aside): the registry is the distinct day-0 texts, the batch keeps
    // the min id per distinct text, survivors are texts day 0 never saw.
    "d12_registry_dedup" ->
      """WITH reg AS (SELECT DISTINCT text FROM documents WHERE doc_id < 250),
        |batch AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id >= 250
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) = 1)
        |SELECT doc_id FROM batch b
        |WHERE NOT EXISTS (SELECT 1 FROM reg r WHERE r.text = b.text)
        |ORDER BY doc_id""".stripMargin,

    // Same twin planting (vec_id % 10, ×1.01 in FLOAT), same double cosine
    // with per-side norms, same ROUND(...,4) and threshold on the rounded
    // value.
    "d09_cosine_dup_pairs" ->
      """WITH base AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 1000),
        |tw AS (
        |  SELECT vec_id + 1000000 AS vec_id,
        |    list_transform(embedding, x -> CAST(x * CAST(1.01 AS FLOAT) AS FLOAT))
        |      AS embedding
        |  FROM base WHERE vec_id % 10 = 0),
        |all_v AS (
        |  SELECT vec_id, embedding FROM base
        |  UNION ALL SELECT vec_id, embedding FROM tw),
        |m AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM all_v),
        |n AS (SELECT vec_id, e, SQRT(list_dot_product(e, e)) AS nrm FROM m)
        |SELECT a.vec_id AS a, b.vec_id AS b,
        |  ROUND(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 4) AS sim
        |FROM n a JOIN n b ON a.vec_id < b.vec_id
        |WHERE ROUND(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 4) >= 0.8
        |ORDER BY a, b""".stripMargin,

    // The oracle resolves the SAME semantics through the exact quadratic
    // path: pairs ≥ threshold (unrounded, like semanticDedup's edge
    // filter), drop the higher id of each pair. On this corpus the dup
    // graph is disjoint twin pairs (no natural pair reaches 0.52), so
    // greedy pair-drop ≡ connected-components keep-min, and the clustered
    // Spark path can never miss a pair (exact-copy twins share a cell by
    // construction) — the hash gate certifies exactly that.
    "d10_semantic_dedup" ->
      """WITH tw AS (
        |  SELECT vec_id + 1000000 AS vec_id, embedding, label
        |  FROM embeddings WHERE vec_id % 10 = 0),
        |all_v AS (
        |  SELECT vec_id, embedding, label FROM embeddings
        |  UNION ALL SELECT vec_id, embedding, label FROM tw),
        |m AS (
        |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM all_v),
        |n AS (SELECT vec_id, label, e, SQRT(list_dot_product(e, e)) AS nrm FROM m),
        |p AS (
        |  SELECT a.vec_id AS a, b.vec_id AS b
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id
        |  WHERE list_dot_product(a.e, b.e) / (a.nrm * b.nrm) >= 0.8)
        |SELECT vec_id, label FROM all_v
        |WHERE vec_id NOT IN (SELECT DISTINCT b FROM p)
        |ORDER BY vec_id""".stripMargin,

    // Same arithmetic as the Spark side: double dot products, norms factored
    // out, ROUND(...,4) before the argmax, ties toward the lower vec_id.
    "d05_embed_nn" ->
      """WITH n AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |norms AS (
        |  SELECT vec_id, e, SQRT(list_dot_product(e, e)) AS nrm FROM n),
        |probes AS (
        |  SELECT vec_id AS probe_id, e AS qe, nrm AS qn FROM norms WHERE vec_id < 100),
        |pairs AS (
        |  SELECT probe_id, vec_id,
        |    ROUND(list_dot_product(e, qe) / (nrm * qn), 4) AS sim,
        |    ROW_NUMBER() OVER (PARTITION BY probe_id
        |                       ORDER BY ROUND(list_dot_product(e, qe) / (nrm * qn), 4) DESC,
        |                                vec_id) AS rk
        |  FROM norms CROSS JOIN probes
        |  WHERE vec_id <> probe_id)
        |SELECT probe_id, vec_id AS nn_id, sim
        |FROM pairs WHERE rk = 1
        |ORDER BY probe_id""".stripMargin,

    // d27: the Bloom registry replayed one-pass (OR'd bits are union- and
    // idempotence-exact, so run-splitting is invisible): key64 as in t47,
    // probe i's bit at xxh64(i, xxh64(key64, 42)) & 65535, 32-bit words
    // OR'd per (source, word), might_contain = all 4 probed bits set.
    "d27_bloom_registry" ->
      (OracleHashLib.preamble +
        s"""WITH t AS (
          |  SELECT source, UNNEST(string_split(text, ' ')) AS token
          |  FROM documents),
          |allk AS MATERIALIZED (
          |  SELECT token, ${OracleHashLib.key64Sql("token")} AS k
          |  FROM (SELECT DISTINCT token FROM t
          |        UNION
          |        SELECT 'zz_never_' || source AS token
          |        FROM (SELECT DISTINCT source FROM documents))),
          |${OracleHashLib.xxh64StagedCtes("a", "allk", Seq("token"),
             "k", "42", "h1")},
          |xr AS (
          |  SELECT token, h1, UNNEST([0, 1, 2, 3])::BIGINT AS i FROM ax4),
          |${OracleHashLib.xxh64StagedCtes("b", "xr", Seq("token", "i"),
             "g_us(i)", "h1", "h2")},
          |posn AS MATERIALIZED (
          |  SELECT token, i, (h2 & 65535)::BIGINT AS pos FROM bx4),
          |keys AS (SELECT DISTINCT source, token FROM t),
          |words AS (
          |  SELECT source, pos // 32 AS word,
          |    bit_or(1::BIGINT << (pos % 32)::INT) AS bits
          |  FROM keys JOIN posn USING (token) GROUP BY 1, 2),
          |probes AS (
          |  SELECT source, token FROM keys
          |  UNION ALL
          |  SELECT source, 'zz_never_' || source AS token
          |  FROM (SELECT DISTINCT source FROM documents)),
          |pe AS (
          |  SELECT p.source, p.token, n.pos
          |  FROM probes p JOIN posn n USING (token))
          |SELECT pe.source AS "group", pe.token,
          |  CAST(CASE WHEN COUNT(*) FILTER (
          |      WHERE (COALESCE(w.bits, 0) & (1::BIGINT << (pe.pos % 32)::INT)) <> 0)
          |    = 4 THEN 1 ELSE 0 END AS INTEGER) AS might_contain
          |FROM pe LEFT JOIN words w
          |  ON w.source = pe.source AND w.word = pe.pos // 32
          |GROUP BY 1, 2
          |ORDER BY "group", pe.token""".stripMargin)
  )
}
