package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact GLOBAL ranking without the single-partition window — the
  * primitive behind corpus-wide row_number/ntile at scale. A bare
  * `Window.orderBy(...)` (no partitionBy) moves EVERY row to one task
  * (Spark even warns); this computes the identical ranks with the
  * classic two-phase sort:
  *
  *  1. range-repartition on the sort key (disjoint, ordered ranges —
  *     ties land in one partition by the partitioner's key search, and
  *     boundary placement cannot change a rank, only which task
  *     computes it);
  *  2. per-partition counts (one tiny aggregate — rows = partitions)
  *     → prefix-sum offsets, broadcast back;
  *  3. rank = offset + row_number within the range partition — a
  *     partitionBy(pid) window, parallel across partitions.
  *
  * The caller's `sortCols` must be a TOTAL order (append a unique
  * tie-break column — the ntile/rank value is otherwise partition-
  * dependent on ties, the AsofJoin determinism convention), ASCENDING
  * (negate/invert values for descending ranks — a plain column list
  * keeps the range partitioner and the within-partition window on the
  * same ordering by construction).
  *
  * The count probe doubles as the cache fill for the range-partitioned
  * frame (probe-then-arm, the r18 Bridge contract), so the sort runs
  * ONCE across the probe and the caller's action.
  */
object GlobalRank {

  /** `df` + `rankCol` = exact 1-based global rank under `sortCols`. */
  def withGlobalRank(df: DataFrame, sortCols: Seq[Column],
                     rankCol: String = "rank"): DataFrame =
    ranked(df, sortCols, rankCol)._1

  /** `df` + `scoreCol` = exact SQL NTILE(k) bucket (1..k) under
    * `sortCols` — bucket sizes differ by at most one, larger buckets
    * first, replicating the standard NTILE split of ties-free total
    * orders bit-for-bit (the oracle contract). BIGINT on both sides.
    */
  def withNtile(df: DataFrame, sortCols: Seq[Column], k: Int,
                scoreCol: String): DataFrame = {
    require(k >= 1, s"ntile k=$k")
    val (r, n) = ranked(df, sortCols, "__gr_rank")
    val base = n / k
    val rem = n % k
    val cut = rem * (base + 1)
    // SQL NTILE: first `rem` buckets hold base+1 rows. Integral DIV
    // throughout (Column./ is double division). base can be 0 only when
    // n < k, where every rank sits at or below `cut` and the ELSE
    // branch never evaluates — the max() keeps its DIV ANSI-safe anyway.
    r.withColumn(scoreCol, expr(
        s"CASE WHEN __gr_rank <= ${cut}L THEN " +
          s"(__gr_rank - 1) DIV ${math.max(base + 1, 1L)}L + 1 " +
          s"ELSE ${rem}L + (__gr_rank - ${cut}L - 1) DIV " +
          s"${math.max(base, 1L)}L + 1 END"))
      .drop("__gr_rank")
  }

  private def ranked(df: DataFrame, sortCols: Seq[Column],
                     rankCol: String): (DataFrame, Long) = {
    require(sortCols.nonEmpty, "GlobalRank: no sort columns")
    val spark = df.sparkSession
    val parts = spark.sessionState.conf.numShufflePartitions
    val persisted =
      org.apache.spark.sql.graftbridge.Bridge.persistedCopy(
        df.repartitionByRange(parts, sortCols: _*)
          .withColumn("__gr_pid", spark_partition_id()),
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ranged = persisted.df
    // tiny: one row per partition. The probe fills the ranged cache.
    val counts = ranged.groupBy(col("__gr_pid"))
      .agg(count(lit(1)).as("__c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    persisted.releaseAfterNextUse()
    val total = counts.map(_._2).sum
    val offsets = counts.map(_._1)
      .zip(counts.map(_._2).scanLeft(0L)(_ + _))
      .map { case (pid, off) => (pid, off) }
    import spark.implicits._
    val offDf = offsets.toSeq.toDF("__gr_pid", "__gr_off")
    val w = Window.partitionBy(col("__gr_pid"))
      .orderBy(sortCols: _*)
    (ranged.join(broadcast(offDf), "__gr_pid")
      .withColumn(rankCol, col("__gr_off") + row_number().over(w))
      .drop("__gr_pid", "__gr_off"), total)
  }
}
