package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression conversions for custom Catalyst expressions.
  * `ExpressionUtils` is private[sql] in Spark 4, so extension libraries
  * expose it through an org.apache.spark.sql.* bridge package — the only
  * piece of this codebase that reaches into Spark internals.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A persisted copy of a frame (see [[persistedCopy]]): the copy
    * itself, and the two ways to free its blocks before the frame is
    * garbage-collected. The persistence lives on the raw internal-row RDD
    * and is never registered in the CacheManager, so `df.unpersist()` is
    * a silent no-op — callers that materialize a skeleton per batch in a
    * long-lived driver free it through this handle, or dead blocks
    * accumulate between GCs.
    */
  final class Persisted private[graftbridge] (
      val df: org.apache.spark.sql.DataFrame,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      session: org.apache.spark.sql.classic.SparkSession) {

    /** Free the blocks now. A later query over [[df]] recomputes them. */
    def release(): Unit = rdd.unpersist(blocking = false)

    /** Free the blocks after the first query that reads [[df]] completes
      * (success or failure). Operators whose result the CALLER
      * materializes arm this before returning: within that one action
      * every branch shares the blocks, and a driver running the operator
      * per batch accumulates nothing between GCs. Operators that run
      * their own probe actions over [[df]] arm it AFTER the probes, so
      * the probes fill the cache instead of consuming it. Lineage is
      * kept, so a second action recomputes instead of failing. The
      * listener holds only the RDD id: a frame that is armed but never
      * read is still freed by the ContextCleaner when it is collected.
      */
    def releaseAfterNextUse(): Unit = armReleaseOnUse(session, rdd.id)
  }

  /** A copy of `df` whose internal-row RDD is persisted at `level` —
    * the cluster-safe materialization primitive. Unlike `localCheckpoint`,
    * the RDD's lineage is KEPT: a block lost with its executor is
    * recomputed on access instead of failing the job. Unlike
    * `Dataset.persist`, nothing is registered in the session's
    * CacheManager — the blocks are freed by the ContextCleaner as soon as
    * the returned frame is garbage-collected, or earlier through the
    * handle. (Internal-row plumbing mirrors `Dataset.checkpoint`; rows are
    * copied because the scan reuses its row buffer.)
    *
    * Layout: when `df` is rooted at a hash `repartition(n, cols…)` with an
    * explicit partition count, the copy declares that partitioning, so
    * consumers whose required distribution it satisfies plan NO exchange
    * over the cached frame. It is derived from the ANALYZED root rather
    * than `LogicalRDD.fromDataset` (which reads the physical root's
    * outputPartitioning — under lazily-built AQE that is Unknown), and
    * only an explicit-N hash repartition qualifies: AQE never
    * re-coalesces a user-pinned partition count, so declared == actual at
    * runtime, and its partition expressions ARE the output attributes the
    * copy exposes. (A range repartition's are sort orders and would claim
    * a layout the rows do not have.) Every other copy is a bare leaf with
    * fresh attributes and Unknown partitioning.
    */
  def persistedCopy(df: org.apache.spark.sql.DataFrame,
                    level: org.apache.spark.storage.StorageLevel): Persisted = {
    graft.plans.PlanTap.record("persistedCopy", df)
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val rdd = ds.queryExecution.toRdd.map(_.copy())
    rdd.persist(level)
    val session = ds.sparkSession
    val copy = ds.queryExecution.analyzed match {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
          if r.optNumPartitions.isDefined && r.partitioning.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] =>
        // LogicalRDD is a MultiInstanceRelation whose newInstance()
        // rewrites the partitioning onto fresh attrs, so self-joins stay
        // exchange-free
        org.apache.spark.sql.classic.Dataset.ofRows(session,
          org.apache.spark.sql.execution.LogicalRDD(
            r.output, rdd, r.partitioning)(session))
      case _ => session.internalCreateDataFrame(rdd, ds.schema)
    }
    new Persisted(copy, rdd, session)
  }

  // One-shot listener: the first finished query whose optimized plan
  // reads the RDD frees its blocks and unregisters the listener. It keeps
  // only the id — holding the RDD would pin an armed-but-unread frame's
  // blocks for the session's lifetime — and unpersists the RDD that the
  // consuming query's plan holds, which also clears its storage level so
  // a later action recomputes without re-caching.
  private def armReleaseOnUse(
      session: org.apache.spark.sql.classic.SparkSession, rddId: Int): Unit = {
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      private val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
      private def maybeRelease(qe: org.apache.spark.sql.execution.QueryExecution): Unit =
        qe.optimizedPlan.collectFirst {
          case l: org.apache.spark.sql.execution.LogicalRDD if l.rdd.id == rddId => l.rdd
        }.foreach { rdd =>
          if (fired.compareAndSet(false, true)) {
            rdd.unpersist(blocking = false)
            session.listenerManager.unregister(this)
          }
        }
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit = maybeRelease(qe)
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = maybeRelease(qe)
    }
    session.listenerManager.register(listener)
  }

  /** A clone of `s` sharing its SparkContext, shared state, and catalog
    * but with an independent COPY of the session conf — the primitive
    * for query-local conf overrides (e.g. disabling the
    * autoBucketedScan heuristic around a bucket-pruned probe) that must
    * hold at the caller's ACTION time without mutating the shared
    * session. `SparkSession.cloneSession` is private[sql], hence the
    * bridge.
    */
  def cloneSession(s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** Block until every queued SparkListener event has been delivered —
    * the listener bus is asynchronous, so metrics accumulated in a
    * custom listener (the bench mains) are complete only after a drain.
    * `listenerBus` is private[spark], hence exposed here.
    */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
