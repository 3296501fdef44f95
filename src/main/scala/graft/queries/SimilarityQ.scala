package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.similarity.Similarity

/** ANN queries over the embeddings table. s01 (exact brute force) is
  * oracle-checked against DuckDB's list functions; s02 (LSH) is the
  * approximate scale path with a rows-only check + recall spec.
  */
object SimilarityQ {

  private def queryVec(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings").filter(col("vec_id") === 0)
      .select(col("embedding").as("qvec"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // L6: exact top-20 cosine against the vec_id=0 query.
    "s01_knn_brute" -> { (s, dir) =>
      Similarity.bruteForceKnn(Tables(s, dir, "embeddings"), queryVec(s, dir),
        idCol = "vec_id", vecCol = "embedding", k = 20)
    },

    // L90: JL-projected candidates (16 of 64 dims — a quarter of the
    // scan multiplies) + exact rerank for the same query.
    "s13_knn_projected" -> { (s, dir) =>
      Similarity.bruteForceKnnProjected(
        Tables(s, dir, "embeddings"), queryVec(s, dir),
        idCol = "vec_id", vecCol = "embedding", k = 20,
        dim = LshDim, projDim = 16, overfetch = 8)
    },

    // L7: LSH-bucketed approximate top-20 for the same query.
    "s02_knn_lsh" -> { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      Similarity.lshKnn(emb, queryVec(s, dir), "vec_id", "embedding",
        k = 20, dim = LshDim, bits = LshBits, tables = LshTables)
    },

    // L8: IVF probe-based approximate top-20 for the same query.
    "s03_knn_ivf" -> { (s, dir) =>
      val (assigned, centroids) = Similarity.ivfAssign(
        Tables(s, dir, "embeddings"), "vec_id", "embedding",
        nCentroids = 16, lloydIters = 1)
      exportCentroids(s, centroids, "s03_knn_ivf")
      Similarity.ivfKnnFromAssigned(assigned, centroids, queryVec(s, dir),
        "vec_id", "embedding", k = 20, probes = 4)
    },

    // L52: cluster-balanced diversity sampling — 25 least-prototypical
    // vectors kept per k-means cell (the SSL-prototypes pruning step).
    // Rows-only: Lloyd-trained centroids are iterative (the s03
    // inexpressibility argument); quota/ordering/parity semantics are
    // spec-gated. Non-vacuous: every cell returns its quota (or its full
    // membership) with per-row distances.
    "s09_cluster_sample" -> { (s, dir) =>
      val (assigned, centroids) = Similarity.ivfAssign(
        Tables(s, dir, "embeddings"), "vec_id", "embedding",
        nCentroids = 8, lloydIters = 2)
      exportCentroids(s, centroids, "s09_cluster_sample")
      Similarity.clusterSampleFromAssigned(assigned, centroids, "vec_id",
          "embedding", perCluster = 25)
        .select(col("vec_id"), col("cell"), col("dist"))
        .orderBy("vec_id")
    },

    // L8b: batched IVF — ten probes answered in one corpus pass; the shape
    // a serving/training join runs at scale.
    "s04_knn_ivf_batch" -> { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("embedding").as("qvec"))
      val (assigned, centroids) = Similarity.ivfAssign(
        emb, "vec_id", "embedding", nCentroids = 16, lloydIters = 1)
      exportCentroids(s, centroids, "s04_knn_ivf_batch")
      Similarity.ivfKnnBatchFromAssigned(assigned, centroids, queries,
          "vec_id", "embedding", "probe_id", k = 10, probes = 4)
        .orderBy("probe_id", "sim", "vec_id")
    },

    // L8c: IVF probe against the PERSISTED cell-partitioned index — the
    // actual 100 TB serving path. The index (same training parameters as
    // s03) is built once per sfDir and reused; the probe itself is a
    // partition-pruned read of 4 of the 16 cell directories plus an exact
    // rerank — no corpus scan, no per-query training.
    "s05_knn_ivf_indexed" -> { (s, dir) =>
      val table = ivfIndexTable(s, dir)
      exportCentroids(s, Similarity.readIvfCentroids(s, table),
        "s05_knn_ivf_indexed")
      Similarity.ivfProbePartitioned(s, table, queryVec(s, dir),
        "vec_id", "embedding", k = 20, probes = 4)
    },

    // L8d: the batched serving shape against the same persisted index —
    // ten probes answered from one partition-pruned read (union of probe
    // cells), no training, no corpus scan. Row-identical to s04 by spec.
    "s06_knn_ivf_indexed_batch" -> { (s, dir) =>
      val table = ivfIndexTable(s, dir)
      exportCentroids(s, Similarity.readIvfCentroids(s, table),
        "s06_knn_ivf_indexed_batch")
      val probes = Tables(s, dir, "embeddings").filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("embedding").as("qvec"))
      Similarity.ivfProbePartitionedBatch(s, table, probes,
        "vec_id", "embedding", "probe_id", k = 10, probes = 4)
        .orderBy("probe_id", "sim", "vec_id")
    },

    // L26c: semantic dedup served from a PERSISTED IVF index over the
    // twin-planted corpus — d10's semantics with the training half read
    // from the index instead of retrained per run (the build-once/serve-
    // many split s05 makes for ANN probes). Same training parameters and
    // corpus as d10 ⇒ same survivors ⇒ it shares d10's oracle, and the
    // hash gate certifies the indexed path end to end.
    "s07_semantic_dedup_indexed" -> { (s, dir) =>
      val table = semDedupIndexTable(s, dir)
      graft.dedup.Dedup.semanticDedupIndexed(s, table, "vec_id", "embedding",
        threshold = 0.8)
        .select(col("vec_id"), col("label"))
        .orderBy("vec_id")
    },

    // L36: cross-run SEMANTIC dedup against a persisted IVF index —
    // d13/d15's shape for the embedding tier. Day 0 (vec_id < 250) is
    // indexed fresh per call; the probe replays every 10th day-0 vector
    // VERBATIM (id + 2000000 — an exact replay matches itself at cosine
    // 1 inside its unchanged cell, so it drops) alongside the genuinely
    // fresh rest of the corpus (random 16-dim vectors stay far below
    // the 0.95 cosine bar). Report-only keeps repeated driver runs
    // deterministic. Rows-only: the verdict depends on the trained
    // centroids (s03's DuckDB-inexpressibility argument); lifecycle
    // semantics are spec-gated.
    "s08_semantic_dedup_registry" -> { (s, dir) =>
      import graft.sources.Warehouse
      val emb = Tables(s, dir, "embeddings")
      val t = "graft_semxr_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      for (tb <- Seq(t, s"${t}_centroids"))
        Warehouse.dropTableAndLocation(s, tb)
      Similarity.writeIvfIndex(emb.filter(col("vec_id") < 250),
        "vec_id", "embedding", t, nCentroids = 8, lloydIters = 1, buckets = 8)
      exportCentroids(s, Similarity.readIvfCentroids(s, t),
        "s08_semantic_dedup_registry")
      val replays = emb
        .filter(col("vec_id") < 250 && col("vec_id") % 10 === 0)
        .withColumn("vec_id", col("vec_id") + 2000000)
      graft.dedup.Dedup.semanticDedupAgainstIndex(
          emb.filter(col("vec_id") >= 250).unionByName(replays),
          "vec_id", "embedding", t, threshold = 0.95, update = false)
        .select(col("vec_id"))
        .orderBy("vec_id")
    },

    // L75: HYBRID retrieval — reciprocal-rank fusion of the exact dense
    // top-20 (s01's list) and the BM25 keyword top-20 (t27's list) over
    // the shared id space. Only ranks matter, contributions are exact
    // longs (×10¹²), so the fused scores hash-match DuckDB bit-for-bit.
    "s10_hybrid_rrf" -> { (s, dir) =>
      val dense = Similarity.bruteForceKnn(Tables(s, dir, "embeddings"),
          queryVec(s, dir), idCol = "vec_id", vecCol = "embedding", k = 20)
        .select(lit("q1").as("query_id"), col("vec_id").as("doc_id"),
          col("sim").as("score"))
      val sparse = graft.text.Search.bm25(Tables(s, dir, "documents"),
          "text", "doc_id", "window merge scan", topK = 20)
        .select(lit("q1").as("query_id"), col("doc_id"), col("score"))
      graft.text.Search.rrfFuse(Seq(dense, sparse), "query_id", "doc_id",
          "score", topK = 15)
        .orderBy("query_id", "doc_id")
    },

    // L7b: MULTI-PROBE serving from a persisted LSH index — the query's
    // bucket per table plus the lowest-margin bit-flip neighbors
    // (nProbes=4), recall up at unchanged index size. Rows-only: the
    // probe ranks perturbations of query-dependent margins over
    // JVM-Gaussian directions (s02's inexpressibility squared); the
    // nProbes=1 degenerate case equals the s02-oracle-certified
    // single-probe set, spec-pinned.
    "s12_knn_lsh_multiprobe" -> { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      val t = "graft_lshmp_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      if (!s.catalog.tableExists(t)) {
        for (tb <- Seq(t, s"${t}_lshspec"))
          graft.sources.Warehouse.dropTableAndLocation(s, tb)
        Similarity.writeLshIndex(emb, "vec_id", "embedding", t,
          dim = LshDim, bits = LshBits, tables = LshTables, buckets = 64)
      }
      val probe = org.apache.spark.sql.graftbridge.Bridge.cloneSession(s)
      probe.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      Similarity.lshProbeBucketedMulti(probe, t, queryVec(s, dir),
        "vec_id", "embedding", k = 20, nProbes = 4)
    },

    // L79: ranking-audit metrics — recall@15 / MRR@15 / nDCG@15 of the
    // fused hybrid list (s10) against the exact dense top-20 as binary
    // truth: the post-build audit every index/fusion change should rerun.
    // DCG weights are exact scaled-long constants shared with the oracle.
    "s11_fusion_eval" -> { (s, dir) =>
      val fused = queries("s10_hybrid_rrf")(s, dir)
      val truth = Similarity.bruteForceKnn(Tables(s, dir, "embeddings"),
          queryVec(s, dir), idCol = "vec_id", vecCol = "embedding", k = 20)
        .select(lit("q1").as("query_id"), col("vec_id").as("doc_id"))
      graft.operators.RankingEval.metrics(fused, truth, "query_id",
          "doc_id", "rrf_score", k = 15)
        .orderBy("query_id")
    },

    // L98: HARD-NEGATIVE mining — per anchor (the first 20 vectors), the
    // top-5 candidates with cosine in [0.15, 0.9): informative-but-not-
    // duplicate training negatives. Band and rank cut on ROUND-4 sims
    // with id tie-breaks (engine-deterministic boundaries).
    "s14_hard_negatives" -> { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 20),
          "vec_id", "embedding", k = 5, loSim = 0.15, hiSim = 0.9)
        .orderBy("anchor_id", "rank")
    },

    // L102: MMR diversified reranking — 8 query vectors, top-20
    // relevance candidates each, greedy λ=0.7 marginal selection of 5.
    // All sims/scores ROUND 4 before every comparison with id
    // tie-breaks, so the greedy path is engine-deterministic and the
    // whole selection replays in SQL (unrolled picks). The (1−λ)
    // multiplier is emitted into the oracle from the SAME Scala double
    // (1 − 0.7 is NOT the literal 0.3 in binary — a hand-written 0.3
    // would diverge at round boundaries).
    "s15_mmr_rerank" -> { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      Similarity.mmrRerank(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 5, topN = 20, lambdaRel = MmrLambda)
        .orderBy("query_id", "mmr_rank")
    }
  )

  /** s15's trade-off constant, shared with the oracle generator so both
    * engines multiply by bit-identical doubles.
    */
  private val MmrLambda = 0.7

  /** Export a query's Lloyd-trained centroid matrix for the DuckDB
    * oracle (the t14/t19 export-the-state pattern: training is Spark
    * state, assignment + probe + rerank are the verified application).
    */
  private def exportCentroids(s: SparkSession,
                              centroids: Array[(Int, Array[Double])],
                              query: String): Unit = {
    import s.implicits._
    centroids.toSeq.map { case (c, v) => (c, v.toSeq) }
      .toDF("cell", "centroid").coalesce(1).write.mode("overwrite")
      .parquet(OracleHashLib.centroidExport(query))
  }

  /** Build (once per sfDir per warehouse) the persisted IVF index s05
    * probes. Training parameters match s03's so the indexed probe is
    * row-identical to the direct path (spec-checked).
    */
  private def ivfIndexTable(s: SparkSession, dir: String): String = {
    val table = "graft_ivf_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    if (!s.catalog.tableExists(table) || !s.catalog.tableExists(s"${table}_centroids")) {
      for (t <- Seq(table, s"${table}_centroids"))
        graft.sources.Warehouse.dropTableAndLocation(s, t)
      Similarity.writeIvfIndex(Tables(s, dir, "embeddings"), "vec_id", "embedding",
        table, nCentroids = 16, lloydIters = 1, buckets = 8)
    }
    table
  }

  /** Build (once per sfDir per warehouse) the twin-planted IVF index s07
    * runs semantic dedup against — d10's corpus (embeddings plus an
    * exact-copy twin for every tenth vector) with d10's training
    * parameters, so the indexed dedup is survivor-identical to the
    * per-call path and d10's oracle gates it.
    */
  private def semDedupIndexTable(s: SparkSession, dir: String): String = {
    val table = "graft_semdedup_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    if (!s.catalog.tableExists(table) || !s.catalog.tableExists(s"${table}_centroids")) {
      for (t <- Seq(table, s"${table}_centroids"))
        graft.sources.Warehouse.dropTableAndLocation(s, t)
      val emb = Tables(s, dir, "embeddings")
      val twins = emb.filter(col("vec_id") % 10 === 0)
        .withColumn("vec_id", col("vec_id") + 1000000)
      Similarity.writeIvfIndex(emb.unionByName(twins), "vec_id", "embedding",
        table, nCentroids = 8, lloydIters = 1, buckets = 8)
    }
    table
  }

  // s02's oracle is generated from Similarity.directions, so DuckDB evaluates
  // the exact same hyperplanes: per table, the signature is the sum of sign
  // bits of dot products against the literal direction vectors; a row is a
  // candidate when any table's signature equals the query's, then exact
  // cosine rerank — the same semantics the one-pass UDF implements.
  // Shared LSH parameters for s02's query AND oracle (they must agree).
  // bits sizes the expected bucket occupancy (~n/2^bits per table);
  // 6 bits / 8 tables keeps the candidate set ~10% of the corpus at sf0.01
  // so the top-20 rerank has enough candidates to fill k.
  private val LshDim = 64
  private val LshBits = 6
  private val LshTables = 8

  private val lshOracle: String = {
    val dim = LshDim; val bits = LshBits; val tables = LshTables
    def dirLit(d: Array[Double]): String = d.mkString("[", ", ", "]")
    def sigExpr(e: String, t: Int): String =
      Similarity.directions(dim, bits, 7L + t).zipWithIndex.map { case (dir, b) =>
        s"(CASE WHEN list_dot_product($e, ${dirLit(dir)}) >= 0 THEN ${1L << b} ELSE 0 END)"
      }.mkString("(", " + ", ")")
    val sigCols = (0 until tables).map(t => s"${sigExpr("e", t)} AS s$t").mkString(",\n    ")
    val qsigCols = (0 until tables).map(t => s"${sigExpr("qe", t)} AS qs$t").mkString(",\n    ")
    val anyMatch = (0 until tables).map(t => s"s$t = qs$t").mkString(" OR ")
    s"""WITH n AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |q AS (SELECT e AS qe FROM n WHERE vec_id = 0),
       |sigs AS (
       |  SELECT vec_id, e,
       |    $sigCols
       |  FROM n),
       |qsigs AS (
       |  SELECT qe,
       |    $qsigCols
       |  FROM q),
       |cand AS (
       |  SELECT vec_id, e, qe FROM sigs CROSS JOIN qsigs
       |  WHERE $anyMatch)
       |SELECT vec_id,
       |  ROUND(list_dot_product(e, qe)
       |        / (SQRT(list_dot_product(e, e)) * SQRT(list_dot_product(qe, qe))), 4) AS sim
       |FROM cand
       |ORDER BY sim DESC, vec_id
       |LIMIT 20""".stripMargin
  }

  // s12: the MULTI-PROBE serving path replayed — the query's per-table
  // base signature plus the nProbes lowest-margin bit-flip subsets,
  // ranked exactly as the driver does: weakest bits sorted by (|proj|,
  // bit), subset scores summed in weakest-list order (adding 0.0 for
  // unselected bits is exact, so the partial-sum order matches the JVM's
  // selected-only loop), ties broken by mask enumeration order (Scala's
  // stable sortBy). Directions are the same seed-7 literals as s02's
  // oracle; index signatures embed the table index in the high bits.
  private lazy val multiProbeOracle: String = {
    val dim = LshDim; val bits = LshBits; val tables = LshTables
    val nProbes = 4; val k = 20
    def dirLit(d: Array[Double]): String = d.mkString("[", ", ", "]")
    def tableCtes(t: Int): String = {
      val dirs = Similarity.directions(dim, bits, 7L + t)
      val pjList = (0 until bits)
        .map(j => s"list_dot_product(qe, ${dirLit(dirs(j))})")
        .mkString("[", ",\n      ", "]")
      s"""pt$t AS (
         #  SELECT $pjList AS pj FROM q
         #), wk$t AS (
         #  SELECT pj,
         #    list_sort(list_transform(range(1, ${bits + 1}),
         #      j -> {'a': abs(pj[j]), 'j': j - 1})) AS wk
         #  FROM pt$t
         #), pr$t AS (
         #  SELECT ((${t}::BIGINT << $bits) | xor(
         #    list_sum(list_transform(range(1, ${bits + 1}),
         #      j -> CASE WHEN pj[j] >= 0 THEN 1 << (j - 1) ELSE 0 END))::BIGINT,
         #    list_sum(list_transform(range(1, ${bits + 1}),
         #      jj -> CASE WHEN (mask & (1 << (jj - 1))) != 0
         #            THEN 1 << wk[jj].j ELSE 0 END))::BIGINT)) AS psig
         #  FROM wk$t, (SELECT unnest(range(0, ${1 << bits})) AS mask)
         #  QUALIFY row_number() OVER (ORDER BY
         #    list_reduce(list_prepend(0.0::DOUBLE,
         #      list_transform(range(1, ${bits + 1}),
         #        jj -> CASE WHEN (mask & (1 << (jj - 1))) != 0
         #              THEN wk[jj].a ELSE 0.0 END)),
         #      (acc, v) -> acc + v), mask) <= $nProbes
         #)""".stripMargin('#')
    }
    def sigExpr(e: String, t: Int): String =
      Similarity.directions(dim, bits, 7L + t).zipWithIndex.map { case (d, b) =>
        s"(CASE WHEN list_dot_product($e, ${dirLit(d)}) >= 0 THEN ${1L << b} ELSE 0 END)"
      }.mkString("(", " + ", ")")
    val fullSigs = (0 until tables)
      .map(t => s"((${t}::BIGINT << $bits) | ${sigExpr("e", t)})")
      .mkString("[", ",\n    ", "]")
    s"""WITH n AS (
       #  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       #  FROM embeddings
       #), q AS (SELECT e AS qe FROM n WHERE vec_id = 0),
       #${(0 until tables).map(tableCtes).mkString(",\n")},
       #probesigs AS MATERIALIZED (
       #  ${(0 until tables).map(t => s"SELECT psig FROM pr$t").mkString("\n  UNION ALL ")}
       #), vsigs AS (
       #  SELECT vec_id, unnest($fullSigs) AS vsig FROM n
       #), cand AS (
       #  SELECT DISTINCT v.vec_id, n.e
       #  FROM vsigs v JOIN probesigs p ON v.vsig = p.psig
       #  JOIN n ON n.vec_id = v.vec_id
       #)
       #SELECT c.vec_id,
       #  ROUND(list_dot_product(c.e, q.qe)
       #        / (SQRT(list_dot_product(c.e, c.e))
       #         * SQRT(list_dot_product(q.qe, q.qe))), 4) AS sim
       #FROM cand c, q
       #ORDER BY sim DESC, vec_id
       #LIMIT $k""".stripMargin('#')
  }

  // s13: the JL candidate stage replayed with the SAME seed-derived
  // projection matrix printed as full-precision literals (s02's
  // generated-matrix discipline); each projected coordinate passes
  // through FLOAT exactly as ProjectVec's (float)acc does, the
  // candidate cut orders by the 4-rounded projected cosine with id
  // tie-breaks (deterministic boundary on both engines), and the rerank
  // is s01's exact arithmetic verbatim.
  private val projectedOracle: String = {
    val dim = LshDim; val projDim = 16; val seed = 42L
    val k = 20; val overfetch = 8
    val scale = 1.0 / math.sqrt(projDim.toDouble)
    val rows = Similarity.directions(dim, projDim, seed)
    def rowLit(r: Array[Double]): String =
      r.map(_ * scale).mkString("[", ", ", "]")
    val projList = (0 until projDim).map(j =>
      s"CAST(CAST(list_dot_product(e, ${rowLit(rows(j))}) AS FLOAT) AS DOUBLE)")
      .mkString("[", ",\n      ", "]")
    s"""WITH n AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |p AS (
       |  SELECT vec_id, e,
       |    $projList AS pv
       |  FROM n),
       |q AS (SELECT pv AS qpv, e AS qe FROM p WHERE vec_id = 0),
       |cand AS (
       |  SELECT vec_id, e, qe FROM p CROSS JOIN q
       |  ORDER BY ROUND(list_dot_product(pv, qpv)
       |      / (SQRT(list_dot_product(pv, pv)) * SQRT(list_dot_product(qpv, qpv))), 4)
       |    DESC, vec_id
       |  LIMIT ${k * overfetch})
       |SELECT vec_id,
       |  ROUND(list_dot_product(e, qe)
       |        / (SQRT(list_dot_product(e, e)) * SQRT(list_dot_product(qe, qe))), 4) AS sim
       |FROM cand
       |ORDER BY sim DESC, vec_id
       |LIMIT $k""".stripMargin
  }

  /** s15: the greedy MMR selection unrolled pick by pick — each step
    * scores the unselected candidates as λ·rel − (1−λ)·max(sim to the
    * selected set) from ROUND-4 inputs, rounds, and takes the
    * (score DESC, id) argmax — exactly `Similarity.mmrRerank`'s
    * comparator. λ and 1−λ are interpolated from the SAME Scala doubles
    * the operator multiplies by.
    */
  private def mmrOracle(k: Int = 5, topN: Int = 20,
                        lam: Double = MmrLambda): String = {
    val om = 1.0 - lam
    def pickCtes(i: Int): String =
      if (i == 1)
        s""",
           |s1 AS (
           |  SELECT query_id, cand_id, rel,
           |    ROUND($lam * rel - $om * 0, 4) AS mmr_score, 1 AS mmr_rank
           |  FROM cand
           |  QUALIFY row_number() OVER (PARTITION BY query_id
           |    ORDER BY ROUND($lam * rel - $om * 0, 4) DESC, cand_id) = 1),
           |sel1 AS (SELECT query_id, cand_id FROM s1)""".stripMargin
      else
        s""",
           |c$i AS (
           |  SELECT c.query_id, c.cand_id, c.rel,
           |    ROUND($lam * c.rel - $om * ms.m, 4) AS mmr_score
           |  FROM cand c
           |  JOIN (SELECT p.query_id, p.b_id AS cand_id, MAX(p.sim) AS m
           |        FROM ps p JOIN sel${i - 1} s
           |          ON s.query_id = p.query_id AND s.cand_id = p.a_id
           |        GROUP BY 1, 2) ms
           |    ON ms.query_id = c.query_id AND ms.cand_id = c.cand_id
           |  WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} s
           |    WHERE s.query_id = c.query_id AND s.cand_id = c.cand_id)),
           |s$i AS (
           |  SELECT query_id, cand_id, rel, mmr_score, $i AS mmr_rank
           |  FROM c$i
           |  QUALIFY row_number() OVER (PARTITION BY query_id
           |    ORDER BY mmr_score DESC, cand_id) = 1),
           |sel$i AS (SELECT query_id, cand_id FROM sel${i - 1}
           |          UNION ALL SELECT query_id, cand_id FROM s$i)""".stripMargin
    val finalUnion = (1 to k)
      .map(i => s"  SELECT query_id, mmr_rank, cand_id, rel, mmr_score FROM s$i")
      .mkString("\n  UNION ALL\n")
    s"""WITH nn AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |m AS (SELECT vec_id, e, SQRT(list_dot_product(e, e)) AS nrm FROM nn),
       |qs AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn
       |       FROM m WHERE vec_id < 8),
       |relt AS (
       |  SELECT q.query_id, b.vec_id AS cand_id,
       |    ROUND(list_dot_product(b.e, q.qe) / (b.nrm * q.qn), 4) AS rel,
       |    b.e, b.nrm
       |  FROM m b CROSS JOIN qs q
       |  WHERE b.vec_id <> q.query_id),
       |cand AS (
       |  SELECT * FROM relt
       |  QUALIFY row_number() OVER (PARTITION BY query_id
       |    ORDER BY rel DESC, cand_id) <= $topN),
       |ps AS (
       |  SELECT a.query_id, a.cand_id AS a_id, b.cand_id AS b_id,
       |    ROUND(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 4) AS sim
       |  FROM cand a JOIN cand b
       |    ON a.query_id = b.query_id AND a.cand_id <> b.cand_id)""".stripMargin +
      (1 to k).map(pickCtes).mkString +
      s"""
       |SELECT query_id, mmr_rank, cand_id, rel, mmr_score FROM (
       |$finalUnion
       |)
       |ORDER BY query_id, mmr_rank""".stripMargin
  }

  // built on each call: the export paths name the `graft.oracle.exportRoot`
  // in force when the SQL is dumped, not when this object initialized
  def oracles: Map[String, String] = baseOracles +
    ("s15_mmr_rerank" -> mmrOracle()) +
    ("s03_knn_ivf" -> ivfSingleOracle("s03_knn_ivf", k = 20, probes = 4)) +
    ("s05_knn_ivf_indexed" ->
      ivfSingleOracle("s05_knn_ivf_indexed", k = 20, probes = 4)) +
    ("s04_knn_ivf_batch" ->
      ivfBatchOracle("s04_knn_ivf_batch", k = 10, probes = 4)) +
    ("s06_knn_ivf_indexed_batch" ->
      ivfBatchOracle("s06_knn_ivf_indexed_batch", k = 10, probes = 4)) +
    // s09: assignment from the exported (lloydIters=2) centroids; the
    // prototypicality distance uses the FLOAT-cast centroid exactly as
    // clusterSample's broadcast frame does; per-cell keep-25 most distant
    // with (dist desc, id) — saltedTopN's total order.
    ("s09_cluster_sample" ->
      s"""WITH ${ivfAssignCtes("s09_cluster_sample")},
         #cf AS (SELECT cell,
         #  list_transform(centroid, x -> CAST(CAST(x AS FLOAT) AS DOUBLE)) AS cd
         #  FROM cents),
         #scored AS (
         #  SELECT e.vec_id, a.cell,
         #    ROUND(1.0 -
         #      list_dot_product(list_transform(e.embedding,
         #                         x -> CAST(x AS DOUBLE)), cf.cd)
         #      / (SQRT(list_dot_product(list_transform(e.embedding,
         #                 x -> CAST(x AS DOUBLE)),
         #               list_transform(e.embedding, x -> CAST(x AS DOUBLE))))
         #       * SQRT(list_dot_product(cf.cd, cf.cd))), 6) AS dist
         #  FROM embeddings e JOIN assign a USING (vec_id)
         #  JOIN cf ON cf.cell = a.cell
         #)
         #SELECT vec_id, cell, dist FROM scored
         #QUALIFY row_number() OVER (PARTITION BY cell
         #                           ORDER BY dist DESC, vec_id) <= 25
         #ORDER BY vec_id""".stripMargin('#')) +
    // s08: the cross-run probe replayed against the exported centroids —
    // index rows are day 0 (<250) assigned cells recomputed in SQL, the
    // batch assigns the same way, same-cell pairs compare UNROUNDED
    // double cosine >= 0.95 (replays hit their verbatim twin at exactly
    // 1.0), survivors = batch minus dropped.
    ("s08_semantic_dedup_registry" -> {
      def assignBlock(src: String, p: String) =
        s"""${p}d AS MATERIALIZED (
           #  SELECT b.vec_id, b.embedding, c.cell,
           #    list_reduce(list_prepend(0.0::DOUBLE,
           #      list_transform(range(1, len(b.embedding) + 1),
           #        i -> (b.embedding[i]::DOUBLE - c.centroid[i])
           #             * (b.embedding[i]::DOUBLE - c.centroid[i]))),
           #      (acc, v) -> acc + v) AS d
           #  FROM $src b, cents c
           #), ${p}assign AS MATERIALIZED (
           #  SELECT vec_id, embedding, cell FROM ${p}d
           #  QUALIFY row_number() OVER (PARTITION BY vec_id
           #                             ORDER BY d, cell) = 1
           #)""".stripMargin('#')
      s"""WITH cents AS MATERIALIZED (
         #  SELECT cell, centroid
         #  FROM read_parquet('${OracleHashLib.centroidExport(
              "s08_semantic_dedup_registry")}/*.parquet')
         #), batch AS (
         #  SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 250
         #  UNION ALL
         #  SELECT vec_id + 2000000 AS vec_id, embedding
         #  FROM embeddings WHERE vec_id < 250 AND vec_id % 10 = 0
         #), day0 AS (
         #  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 250
         #), ${assignBlock("batch", "b")},
         #${assignBlock("day0", "i")},
         #dropped AS (
         #  SELECT DISTINCT b.vec_id
         #  FROM bassign b JOIN iassign i USING (cell)
         #  WHERE list_dot_product(
         #          list_transform(b.embedding, x -> CAST(x AS DOUBLE)),
         #          list_transform(i.embedding, x -> CAST(x AS DOUBLE)))
         #        / (SQRT(list_dot_product(
         #             list_transform(b.embedding, x -> CAST(x AS DOUBLE)),
         #             list_transform(b.embedding, x -> CAST(x AS DOUBLE))))
         #         * SQRT(list_dot_product(
         #             list_transform(i.embedding, x -> CAST(x AS DOUBLE)),
         #             list_transform(i.embedding, x -> CAST(x AS DOUBLE)))))
         #        >= 0.95
         #)
         #SELECT vec_id FROM batch
         #WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
         #ORDER BY vec_id""".stripMargin('#')
    }) +
    ("s12_knn_lsh_multiprobe" -> multiProbeOracle) +
    ("s13_knn_projected" -> projectedOracle) +
    // s11 = RankingEval over s10's list vs s01's ids as binary truth: the
    // s10/s01 oracles run verbatim as subqueries; the DCG weight and
    // ideal-prefix tables are THE SAME exact scaled-long constants the
    // Spark side uses (generated here from RankingEval.dcgWeight — no
    // second libm log2 to disagree in the last ulp).
    ("s11_fusion_eval" -> {
      val k = 15
      val wt = (1 to k).map(r =>
        s"($r, ${graft.operators.RankingEval.dcgWeight(r)})").mkString(", ")
      val pf = (1 to k).map { n =>
        val p = (1 to n).map(graft.operators.RankingEval.dcgWeight).sum
        s"($n, $p)"
      }.mkString(", ")
      s"""WITH res AS (
         |${baseOracles("s10_hybrid_rrf")}),
         |tr AS (
         |  SELECT 'q1' AS query_id, vec_id AS doc_id FROM (
         |${baseOracles("s01_knn_brute")})),
         |ranked AS (
         |  SELECT query_id, doc_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY rrf_score DESC, doc_id) AS r
         |  FROM res),
         |topk AS (SELECT * FROM ranked WHERE r <= $k),
         |wt(r, w) AS (VALUES $wt),
         |pf(n, p) AS (VALUES $pf),
         |tn AS (SELECT query_id, COUNT(*) AS n_truth FROM tr GROUP BY query_id),
         |hits AS (
         |  SELECT t.query_id, COUNT(*) AS n_hits, MIN(t.r) AS fr,
         |    SUM(w.w) AS dcg
         |  FROM topk t JOIN tr USING (query_id, doc_id) JOIN wt w ON w.r = t.r
         |  GROUP BY t.query_id)
         |SELECT tn.query_id, tn.n_truth,
         |  COALESCE(h.n_hits, 0) AS n_hits,
         |  ROUND(COALESCE(h.n_hits, 0) / CAST(tn.n_truth AS DOUBLE), 6) AS recall,
         |  ROUND(COALESCE(1.0 / h.fr, 0.0), 6) AS mrr,
         |  ROUND(CAST(COALESCE(h.dcg, 0) AS DOUBLE) / p.p, 6) AS ndcg
         |FROM tn LEFT JOIN hits h USING (query_id)
         |JOIN pf p ON p.n = LEAST($k, tn.n_truth)
         |ORDER BY tn.query_id""".stripMargin
    })

  // ---- IVF-family oracles (export-the-state pattern) ----------------------
  // Lloyd training is Spark-side state; each query exports its trained
  // centroid matrix and the oracle replays the APPLICATION exactly:
  // assignment (sequential double fold of (v[i]-c[i])^2 — the JVM loop
  // order — argmin with first-wins tiebreak), probe-cell ranking (d, cell),
  // and the s01-certified cosine + ROUND(,4) rerank with (sim desc, id)
  // ordering.

  /** cents/dist/assign CTE block over `embeddings` for `query`'s export. */
  private def ivfAssignCtes(query: String): String =
    s"""cents AS MATERIALIZED (
       #  SELECT cell, centroid
       #  FROM read_parquet('${OracleHashLib.centroidExport(query)}/*.parquet')
       #), dist AS MATERIALIZED (
       #  SELECT e.vec_id, c.cell,
       #    list_reduce(list_prepend(0.0::DOUBLE,
       #      list_transform(range(1, len(e.embedding) + 1),
       #        i -> (e.embedding[i]::DOUBLE - c.centroid[i])
       #             * (e.embedding[i]::DOUBLE - c.centroid[i]))),
       #      (acc, v) -> acc + v) AS d
       #  FROM embeddings e, cents c
       #), assign AS MATERIALIZED (
       #  SELECT vec_id, cell FROM dist
       #  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) = 1
       #)""".stripMargin('#')

  // lazy: referenced from the `oracles` val, which precedes this in
  // declaration order
  private lazy val cosQ: String =
    """ROUND(
      #      list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
      #                       list_transform(q.qvec, x -> CAST(x AS DOUBLE)))
      #      / (SQRT(list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
      #                               list_transform(e.embedding, x -> CAST(x AS DOUBLE))))
      #       * SQRT(list_dot_product(list_transform(q.qvec, x -> CAST(x AS DOUBLE)),
      #                               list_transform(q.qvec, x -> CAST(x AS DOUBLE))))), 4)"""
      .stripMargin('#')

  /** Single-probe IVF oracle (s03/s05 shape): top-`k` by cosine inside
    * the query's `probes` nearest cells.
    */
  private def ivfSingleOracle(query: String, k: Int, probes: Int): String =
    s"""WITH ${ivfAssignCtes(query)},
       #q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
       #qd AS (
       #  SELECT c.cell,
       #    list_reduce(list_prepend(0.0::DOUBLE,
       #      list_transform(range(1, len(q.qvec) + 1),
       #        i -> (q.qvec[i]::DOUBLE - c.centroid[i])
       #             * (q.qvec[i]::DOUBLE - c.centroid[i]))),
       #      (acc, v) -> acc + v) AS d
       #  FROM cents c, q
       #), probe AS (SELECT cell FROM qd ORDER BY d, cell LIMIT $probes)
       #SELECT e.vec_id, $cosQ AS sim
       #FROM embeddings e JOIN assign a USING (vec_id), q
       #WHERE a.cell IN (SELECT cell FROM probe)
       #ORDER BY sim DESC, vec_id
       #LIMIT $k""".stripMargin('#')

  /** Batched IVF oracle (s04/s06 shape): vec_id < 10 probes, per-probe
    * top-`k` via window rank.
    */
  private def ivfBatchOracle(query: String, k: Int, probes: Int): String =
    s"""WITH ${ivfAssignCtes(query)},
       #q0 AS (SELECT vec_id AS probe_id, embedding AS qvec
       #       FROM embeddings WHERE vec_id < 10),
       #qd AS (
       #  SELECT q0.probe_id, c.cell,
       #    list_reduce(list_prepend(0.0::DOUBLE,
       #      list_transform(range(1, len(q0.qvec) + 1),
       #        i -> (q0.qvec[i]::DOUBLE - c.centroid[i])
       #             * (q0.qvec[i]::DOUBLE - c.centroid[i]))),
       #      (acc, v) -> acc + v) AS d
       #  FROM cents c, q0
       #), probe AS (
       #  SELECT probe_id, cell FROM qd
       #  QUALIFY row_number() OVER (PARTITION BY probe_id ORDER BY d, cell)
       #          <= $probes
       #), scored AS (
       #  SELECT q.probe_id, e.vec_id, $cosQ AS sim
       #  FROM embeddings e
       #  JOIN assign a USING (vec_id)
       #  JOIN probe p ON p.cell = a.cell
       #  JOIN (SELECT vec_id AS probe_id, embedding AS qvec
       #        FROM embeddings WHERE vec_id < 10) q
       #    ON q.probe_id = p.probe_id
       #)
       #SELECT probe_id, vec_id, sim FROM scored
       #QUALIFY row_number() OVER (PARTITION BY probe_id
       #                           ORDER BY sim DESC, vec_id) <= $k
       #ORDER BY probe_id, sim, vec_id""".stripMargin('#')

  private lazy val baseOracles: Map[String, String] = Map(
    "s02_knn_lsh" -> lshOracle,
    // identical survivors to the per-call path — sharing d10's oracle is
    // what certifies the indexed flavor (the d06/d07 gating pattern)
    "s07_semantic_dedup_indexed" -> DedupQ.oracles("d10_semantic_dedup"),
    // Same arithmetic as Similarity.cosine: double dot products, sequential
    // accumulation, rounded to 4 decimals; ties broken by vec_id.
    "s01_knn_brute" ->
      """WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
        |s AS (
        |  SELECT vec_id,
        |    ROUND(
        |      list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
        |                       list_transform(qvec, x -> CAST(x AS DOUBLE)))
        |      / (SQRT(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
        |                               list_transform(embedding, x -> CAST(x AS DOUBLE))))
        |       * SQRT(list_dot_product(list_transform(qvec, x -> CAST(x AS DOUBLE)),
        |                               list_transform(qvec, x -> CAST(x AS DOUBLE))))) , 4) AS sim
        |  FROM embeddings, q)
        |SELECT vec_id, sim FROM s
        |ORDER BY sim DESC, vec_id
        |LIMIT 20""".stripMargin,

    // RRF fusion of s01's dense top-20 and t27's BM25 top-20 (same CTEs):
    // per-list dense ranks under the (score desc, id) total order, each
    // contribution 1/(60+rank) scaled to an exact BIGINT (×10¹²), fused
    // by an order-free sum, /10¹² rounded to 8 — the Spark side's exact
    // arithmetic.
    "s10_hybrid_rrf" ->
      """WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
        |ds AS (
        |  SELECT vec_id AS doc_id,
        |    ROUND(
        |      list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
        |                       list_transform(qvec, x -> CAST(x AS DOUBLE)))
        |      / (SQRT(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
        |                               list_transform(embedding, x -> CAST(x AS DOUBLE))))
        |       * SQRT(list_dot_product(list_transform(qvec, x -> CAST(x AS DOUBLE)),
        |                               list_transform(qvec, x -> CAST(x AS DOUBLE))))) , 4) AS score
        |  FROM embeddings, q
        |  ORDER BY score DESC, doc_id
        |  LIMIT 20),
        |base AS (
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
        |sp AS (
        |  SELECT doc_id,
        |    ROUND(
        |      ROUND(ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0 * (1.2 + 1.0) / (tf0 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)), 6)
        |      + ROUND(ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * tf1 * (1.2 + 1.0) / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)), 6)
        |      + ROUND(ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * tf2 * (1.2 + 1.0) / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)), 6),
        |    4) AS score
        |  FROM d CROSS JOIN st),
        |sx AS (
        |  SELECT doc_id, score FROM sp WHERE score > 0
        |  ORDER BY score DESC, doc_id
        |  LIMIT 20),
        |c AS (
        |  SELECT doc_id, CAST(ROUND(1000000000000.0 /
        |      (60 + row_number() OVER (ORDER BY score DESC, doc_id)), 0) AS BIGINT) AS ci
        |  FROM ds
        |  UNION ALL
        |  SELECT doc_id, CAST(ROUND(1000000000000.0 /
        |      (60 + row_number() OVER (ORDER BY score DESC, doc_id)), 0) AS BIGINT) AS ci
        |  FROM sx),
        |f AS (
        |  SELECT doc_id,
        |    ROUND(CAST(SUM(ci) AS DOUBLE) / 1000000000000.0, 8) AS rrf_score
        |  FROM c GROUP BY doc_id),
        |topk AS (
        |  SELECT doc_id, rrf_score FROM f
        |  QUALIFY row_number() OVER (ORDER BY rrf_score DESC, doc_id) <= 15)
        |SELECT 'q1' AS query_id, doc_id, rrf_score FROM topk
        |ORDER BY doc_id""".stripMargin
  ) +
    // s14: d05's double-cast cosine arithmetic per (anchor, candidate),
    // ROUND 4 before the band and the rank (both boundaries exact),
    // QUALIFY per-anchor top-5 under the (sim desc, id) total order.
    ("s14_hard_negatives" ->
      """WITH n AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |m AS (SELECT vec_id, e, SQRT(list_dot_product(e, e)) AS nrm FROM n),
        |a AS (SELECT vec_id AS anchor_id, e AS ae, nrm AS anrm
        |      FROM m WHERE vec_id < 20),
        |sc AS (
        |  SELECT a.anchor_id, b.vec_id AS negative_id,
        |    ROUND(list_dot_product(b.e, a.ae) / (b.nrm * a.anrm), 4) AS sim
        |  FROM m b CROSS JOIN a
        |  WHERE b.vec_id <> a.anchor_id),
        |banded AS (SELECT * FROM sc WHERE sim >= 0.15 AND sim < 0.9),
        |ranked AS (
        |  SELECT anchor_id,
        |    CAST(row_number() OVER (PARTITION BY anchor_id
        |                            ORDER BY sim DESC, negative_id) AS INTEGER)
        |      AS rank,
        |    negative_id, sim
        |  FROM banded)
        |SELECT anchor_id, rank, negative_id, sim
        |FROM ranked WHERE rank <= 5
        |ORDER BY anchor_id, rank""".stripMargin)
}
