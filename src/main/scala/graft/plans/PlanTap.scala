package graft.plans

import org.apache.spark.sql.DataFrame

/** Pre-barrier plan capture for plan audits. Materialization barriers
  * (`localCheckpoint`, persisted-RDD copies, reliable parquet spills) cut
  * lineage, so a query's `explain` shows only the post-barrier tail — a
  * recorded plan for d24's containment join was just the final sort, the
  * real join shape invisible to any audit. When tapping is enabled (only
  * [[graft.PlanSnap]] does; PlanDump, since deleted, did too), the
  * shared materialization helpers
  * ([[graft.pipeline.Materialize.cut]]/`cutEager`, the
  * `Bridge.persistedCopy`) record the FULL formatted plan of every
  * frame they are about to cut, tagged by call site; PlanSnap drains the
  * buffer after each query and appends the pre-barrier plans under the
  * query's plan.
  *
  * Off by default and zero-cost when off (one atomic read per barrier):
  * `explainString` forces analysis+planning of the tapped frame, which
  * production runs must not pay twice.
  */
object PlanTap {
  private val enabled = new java.util.concurrent.atomic.AtomicBoolean(false)
  private val buf =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()

  def enable(): Unit = enabled.set(true)
  def disable(): Unit = { enabled.set(false); buf.clear() }
  def isEnabled: Boolean = enabled.get

  /** Record `df`'s formatted physical plan under `tag` when tapping is on.
    * The output column list rides in the tag so two barriers sharing a
    * call-site tag (e.g. a loop) stay distinguishable.
    */
  def record(tag: String, df: DataFrame): Unit = if (enabled.get) {
    val cols = df.columns.take(8).mkString(", ") +
      (if (df.columns.length > 8) ", …" else "")
    buf.add((s"$tag [$cols]",
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)))
  }

  /** Remove and return everything recorded since the last drain, in
    * record order.
    */
  def drain(): Seq[(String, String)] = {
    val out = Seq.newBuilder[(String, String)]
    var e = buf.poll()
    while (e != null) { out += e; e = buf.poll() }
    out.result()
  }
}
