package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §2 for the capability inventory.
  *
  * Every implemented operator is exposed as a named query over the driver's
  * parquet test tables; `oracleSql` carries the DuckDB-equivalent SQL for the
  * hash-compare correctness gate (omitted for ops DuckDB can't express —
  * those get rows-only checks plus ScalaTest specs).
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0.
    * Six-table star join with broadcast dims (SURVEY §2.2 A5).
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q05_star_join")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Relational.queries ++
      graft.queries.Events.queries ++
      graft.queries.Wiki.queries ++
      graft.queries.TextQ.queries ++
      graft.queries.DedupQ.queries ++
      graft.queries.SimilarityQ.queries ++
      graft.queries.MultimodalQ.queries ++
      graft.queries.PipelineQ.queries ++
      graft.queries.GraphQ.queries

  /** The queries a comma-separated filter of full names selects
    * (`SPARK_GRAFT_ONLY` in [[Bench]] and [[Verify]]); no filter selects
    * every query. A name that matches no query fails the call, so a typo
    * or a short name (`q01` for `q01_agg`) cannot turn a run into a
    * no-op that exits 0.
    */
  def selectQueries(only: Option[String])
      : Map[String, (SparkSession, String) => DataFrame] =
    only.fold(queries) { spec =>
      val all = queries
      val names = spec.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = names -- all.keySet
      require(names.nonEmpty && unknown.isEmpty,
        "SPARK_GRAFT_ONLY names no query: " +
          (if (names.isEmpty) "(empty)" else unknown.toSeq.sorted.mkString(", ")) +
          " (full names are expected, e.g. q01_agg)")
      all.filter { case (name, _) => names(name) }
    }

  def oracleSql: Map[String, String] =
    graft.queries.Relational.oracles ++
      graft.queries.Events.oracles ++
      graft.queries.Wiki.oracles ++
      graft.queries.TextQ.oracles ++
      graft.queries.DedupQ.oracles ++
      graft.queries.SimilarityQ.oracles ++
      graft.queries.MultimodalQ.oracles ++
      graft.queries.PipelineQ.oracles ++
      graft.queries.GraphQ.oracles
}
