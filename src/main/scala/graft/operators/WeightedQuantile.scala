package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Exact WEIGHTED quantiles per group — "the price at which half the
  * QUANTITY has traded", "the latency below which 95% of BYTES were
  * served": the unweighted q15 percentiles answer the wrong question
  * whenever rows carry different mass, and no engine ships a built-in
  * weighted percentile.
  *
  * Definition (the standard left-continuous one): the smallest value v
  * with W(<= v) >= q * W_total. Computed EXACTLY: ties collapse to
  * (group, value) weight sums first (so W(<= v) is well-defined
  * independent of row order), weights ride DECIMAL end to end, and the
  * threshold test is integer-scaled (`cum * 1e6 >= ppm * total` — the
  * retention_ppm convention) so no 0.5 float ever enters the
  * comparison — both engines agree row-for-row by construction.
  *
  * Scale shape — the t33 two-pass histogram discipline, NOT one window
  * over each group's full value set (few groups × many distinct values
  * is the classic hot-key funnel: a 3-group corpus would push a third
  * of all distinct values through one window task): pass 1 bins the
  * (group, value) weight sums into `bins` equi-width buckets and finds
  * each group's THRESHOLD BIN from a <= `bins`-row-per-group cumulative
  * (tiny); pass 2 runs the exact ordered cumulative over the threshold
  * bin's values ONLY (~1/bins of the group), offset by the exact
  * below-bin mass. Binning float math only decides which values land
  * where — the answer is binning-independent, so the oracle stays the
  * direct one-window formulation. A group whose threshold bin holds
  * more than 1/bins of its mass (constant-heavy domains) gets ONE
  * recursion level — a re-bin within that bin's own range — before the
  * exact cumulative, so the window pass stays ~1/bins² of the group
  * even when the top-level histogram fails to split; a further
  * concentration inside the sub-bin degrades to the direct shape for
  * that sub-bin (bounded by one more 1/bins factor than the
  * pre-recursion worst case).
  */
object WeightedQuantile {

  /** (groupCol, `wq_<ppm>` value) — the exact weighted quantile at
    * `quantilePpm` parts-per-million (500000 = weighted median).
    */
  def perGroup(df: DataFrame, groupCol: String, valueCol: String,
               weightCol: String, quantilePpm: Long,
               bins: Int = 64): DataFrame =
    perGroupMany(df, groupCol, valueCol, weightCol, Seq(quantilePpm),
      bins)(quantilePpm)

  /** SEVERAL quantiles of the same (group, value, weight) domain in ONE
    * corpus pass (optimization round 18): the (group, value) collapse,
    * the per-group stats, and the bin histogram are ppm-independent, so
    * a caller asking for median AND p90 was paying the corpus
    * aggregation twice for identical intermediates. The binned frame is
    * persisted once (armable — the per-ppm recursion probes fill it, the
    * caller's first action releases it) and every ppm's threshold cut,
    * recursion probe and exact pass-2 cumulative read the cache. Each
    * returned frame is expression-for-expression the single-ppm plan —
    * values are bit-identical to [[perGroup]] by construction.
    */
  def perGroupMany(df: DataFrame, groupCol: String, valueCol: String,
                   weightCol: String, ppms: Seq[Long],
                   bins: Int = 64): Map[Long, DataFrame] = {
    require(ppms.nonEmpty && ppms.distinct == ppms, s"ppms=$ppms")
    ppms.foreach(p => require(p >= 1 && p <= 1000000, s"quantilePpm=$p"))
    require(bins >= 1 && bins <= 100000, s"bins=$bins")
    val byVal = df.groupBy(col(groupCol), col(valueCol))
      .agg(sum(expr(s"CAST($weightCol AS DECIMAL(18,2))")).as("__w"))
    val stats = byVal.groupBy(col(groupCol))
      .agg(min(col(valueCol)).as("__mn"), max(col(valueCol)).as("__mx"),
        sum(col("__w")).as("__tw"))
    // stats/thresh are one-row-per-group skeletons: BROADCAST them — a
    // hash join on a 3-value group key would shuffle every (group,
    // value) row onto 3 tasks, the exact funnel the histogram pass
    // exists to avoid (caught by ScaleBench max-task, not by eyesight;
    // ScaleBench since deleted)
    //
    // the binned (group, value, weight, bin) collapse is the only
    // corpus-sized frame and EVERY downstream stage of every ppm reads
    // it: persist it once (DISK_ONLY — a skeleton of the distinct
    // values, not the corpus). releaseAfterNextUse is armed only after
    // the recursion trigger probes below, which are themselves the first
    // actions over the frame — armed earlier, the FIRST probe's query
    // end would release (racing the async listener bus) the cache every
    // later probe and the caller's materialization need (the r17
    // advisory). Probe first, THEN arm: the probes fill the cache, the
    // caller's first action consumes and releases it.
    val persisted =
      org.apache.spark.sql.graftbridge.Bridge.persistedCopy(
        byVal.join(broadcast(stats), groupCol)
          .withColumn("__bin",
            when(col("__mx") === col("__mn"), lit(0L))
              .otherwise(least(lit(bins - 1L),
                floor((col(valueCol) - col("__mn")) /
                  (col("__mx") - col("__mn")) * bins))))
          // project the group extent away once the bin is computed —
          // every downstream read re-scans this cache (guide §2.3:
          // narrow what crosses/persists); the recursion re-bins within
          // the THRESHOLD bin's extent (__bmn/__bmx from the histogram),
          // never the group extent
          .drop("__mn", "__mx"),
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val binned = persisted.df
    // pass 1 (ppm-independent): bin histogram with per-bin VALUE EXTENT
    // and weight riding the same aggregation, so each ppm's recursion
    // trigger is decided from this <= bins-row-per-group skeleton — no
    // second corpus-sized aggregation exists. The group total __tw rides
    // the SAME aggregation too (every binned row of a group carries the
    // identical __tw, so first() is deterministic): re-joining
    // broadcast(stats) here would rebuild the stats broadcast — a full
    // corpus aggregation — in EVERY query that consumes the cumulative
    // (each ppm's probe plus the caller's action re-scanned the parquet;
    // measured 4 redundant corpus scans per q24 evaluation).
    val binW = binned.groupBy(col(groupCol), col("__bin"))
      .agg(sum(col("__w")).as("__bw"), min(col(valueCol)).as("__bvmn"),
        max(col(valueCol)).as("__bvmx"), first(col("__tw")).as("__tw"))
    val cumBins = Window.partitionBy(col(groupCol)).orderBy(col("__bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cumB = binW.withColumn("__cb", sum(col("__bw")).over(cumBins))
    val out = ppms.map { quantilePpm =>
      val thresh = cumB
        .filter(col("__cb") * lit(1000000L) >= lit(quantilePpm) * col("__tw"))
        .groupBy(col(groupCol))
        .agg(min_by(struct(col("__bin"), (col("__cb") - col("__bw"))
          .as("__below"), col("__bw"), col("__bvmn"), col("__bvmx")),
          col("__bin")).as("__t"))
        .select(col(groupCol), col("__t.__bin").as("__tbin"),
          col("__t.__below").as("__below"), col("__t.__bw").as("__tbw"),
          col("__t.__bvmn").as("__bmn"), col("__t.__bvmx").as("__bmx"))
      // pass 2: exact ordered cumulative over the threshold bin only —
      // a filter over the SHARED persisted collapse (~1/bins of it)
      val cand = binned.join(broadcast(thresh), groupCol)
        .filter(col("__bin") === col("__tbin"))
      // RECURSION, one level (constant-heavy domains — price ladders,
      // zero-inflated counts): when a group's threshold bin holds more
      // than 1/bins of its mass (the equi-width histogram failed to
      // split — an outlier stretched the range, or the mass piles up),
      // re-bin WITHIN the threshold bin's own [min, max] before the
      // exact cumulative, so the window pass sees ~1/bins of the bin
      // instead of (worst case) the whole group. Binning float math
      // still only routes values — the answer stays binning-independent,
      // so the oracle is unchanged. A single-VALUE heavy bin can't split
      // (min = max) and doesn't need to: it is one row already.
      //
      // Trigger only on a CLEARLY failed split — the bin holds more than
      // 2× its equi-width fair share (a constant-heavy bin holds ~bins×;
      // a uniform distribution sits at ~1.0× and must NOT pay the
      // recursion stages — at exactly 1/bins the test is noise).
      val recCond =
        col("__tbw") * lit(bins) > col("__tw") * 2 &&
          col("__bmx") > col("__bmn")
      // short-circuit probe: one action decides whether ANY group needs
      // the recursion — when none does (the common case), the plan stays
      // the direct pass-2, paying zero recursion stages. The probes
      // double as the cache FILL (the listener is not yet armed).
      val anyRec = !cand.filter(recCond).isEmpty
      val branch = if (!anyRec) {
        val cumVals = Window.partitionBy(col(groupCol)).orderBy(col(valueCol))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        cand
          .withColumn("__cw", col("__below") + sum(col("__w")).over(cumVals))
          .filter(col("__cw") * lit(1000000L) >=
            lit(quantilePpm) * col("__tw"))
          .groupBy(col(groupCol))
          .agg(min(col(valueCol)).as(s"wq_$quantilePpm"))
      } else {
        val cand2 = cand
          .withColumn("__rec", recCond)
          .withColumn("__sbin",
            when(!col("__rec"), lit(0L))
              .otherwise(least(lit(bins - 1L),
                floor((col(valueCol) - col("__bmn")) /
                  (col("__bmx") - col("__bmn")) * bins))))
        val subBinW = cand2.groupBy(col(groupCol), col("__sbin"))
          .agg(sum(col("__w")).as("__sbw"), first(col("__tw")).as("__stw"),
            first(col("__below")).as("__sbelow"))
        val cumSub = Window.partitionBy(col(groupCol)).orderBy(col("__sbin"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val threshSub = subBinW
          .withColumn("__cs", sum(col("__sbw")).over(cumSub))
          .filter((col("__sbelow") + col("__cs")) * lit(1000000L) >=
            lit(quantilePpm) * col("__stw"))
          .groupBy(col(groupCol))
          .agg(min_by(struct(col("__sbin"),
            (col("__sbelow") + col("__cs") - col("__sbw")).as("__below2")),
            col("__sbin")).as("__t2"))
          .select(col(groupCol), col("__t2.__sbin").as("__tsbin"),
            col("__t2.__below2").as("__below2"))
        // exact ordered cumulative over the (sub-)threshold bin only
        val finalCand = cand2.join(broadcast(threshSub), groupCol)
          .filter(col("__sbin") === col("__tsbin"))
        val cumVals = Window.partitionBy(col(groupCol)).orderBy(col(valueCol))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        finalCand
          .withColumn("__cw",
            col("__below2") + sum(col("__w")).over(cumVals))
          .filter(col("__cw") * lit(1000000L) >=
            lit(quantilePpm) * col("__tw"))
          .groupBy(col(groupCol))
          .agg(min(col(valueCol)).as(s"wq_$quantilePpm"))
      }
      quantilePpm -> branch
    }.toMap
    persisted.releaseAfterNextUse()
    out
  }
}
