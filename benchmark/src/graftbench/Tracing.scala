package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** The traced run: the op loop runs half its time untraced, then half
  * with a [[Recorder]] attached. Per-layer metrics come from the traced
  * half; the gap between the halves' median read-op latency is the
  * tracing overhead.
  *
  * `writes` names the op kinds that only write (serve_mixed's appends):
  * `sink.*` is rolled up over those ops and every other layer over the
  * rest. With no such kinds, every layer is rolled up over every op.
  */
object Tracing {

  def unit(metric: String): String =
    if (metric.endsWith("_s")) "s"
    else if (metric.endsWith("_mb")) "MB"
    else if (metric.endsWith("_frac") || metric.endsWith("_skew")) "ratio"
    else "count"

  def untracedThenTraced(h: Harness, spark: SparkSession, seconds: Double, minOps: Int,
                         writes: Set[String] = Set.empty)(
      op: Int => Option[Sample]): Seq[Sample] = {
    var next = 0
    def counted(i: Int): Option[Sample] = { next += 1; op(next - 1) }
    val plain = h.loop(seconds / 2, minOps)(counted)
    val rec = new Recorder(h.a.cpus)
    rec.attach(spark)
    h.recorder = Some(rec)
    val traced =
      try h.loop(seconds / 2, minOps)(counted)
      finally {
        Bridge.drainListenerBus(spark)
        rec.detach(spark)
        h.recorder = None
      }
    h.traced = Some(rec)
    val isWrite: String => Boolean = if (writes.isEmpty) _ => true else writes
    val isRead: String => Boolean = if (writes.isEmpty) _ => true else k => !writes(k)
    def p50(xs: Seq[Sample]) = Stats.median(xs.filter(s => isRead(s.kind)).map(_.wallS))
    h.metric("trace.overhead_frac", p50(traced) / p50(plain) - 1, "ratio")
    h.metric("trace.ops", traced.size, "count")
    val writeOps = traced.filter(s => isWrite(s.kind))
    h.metric("sink.files", writeOps.map(_.files).sum.toDouble / math.max(1, writeOps.size), "count")
    val (sink, engine) = (rec.layers(isWrite).filter(_._1.startsWith("sink.")),
      rec.layers(isRead).filter(!_._1.startsWith("sink.")))
    for ((k, v) <- engine ++ sink) h.metric(k, v, unit(k))
    rec.dump(h.a.spans)
    plain ++ traced
  }
}
