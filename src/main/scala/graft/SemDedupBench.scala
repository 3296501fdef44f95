package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup

/** Scale validation for SemDeDup-style semantic dedup: a clustered
  * embedding corpus (AnnBench's generator shape) with an exact-copy twin
  * planted for every tenth vector. Cells are sized to the SemDeDup recipe
  * (k ≈ √N), so the within-cell pair budget — the only quadratic term —
  * stays ≈ N^1.5/2 instead of N²/2; the run reports that budget from the
  * measured cell sizes alongside recall (twins share their original's
  * cell by construction, so anything under 1.0 is a bug, not tuning).
  *
  * An optional second argument plants a MEGA-CELL: that many copies of one
  * identical vector, all of which land in a single k-means cell and trip
  * the `maxCell` chain bound. The run proves the degenerate case the bound
  * exists for completes — and, since round 6, completes with BOUNDED
  * per-task input: the cell-keyed windows see only (cell, id, fingerprint)
  * skeleton rows, never the vector payload, so the one task the mega-cell
  * funnels sorts ~24-byte rows. All copies share a fingerprint, stay
  * contiguous in the chain, and collapse to one survivor.
  * Usage: `runMain graft.SemDedupBench [N] [megaCopies]`.
  */
object SemDedupBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(100000)
    val mega = args.drop(1).headOption.map(_.toInt).getOrElse(0)
    val dim = 32
    val nCentroids = math.max(16, math.sqrt(n.toDouble).toInt)
    val cpus = Tables.localCpus
    val spark = Tables.newSession("graft-semdedupbench", s"local[$cpus]", cpus)

    val nCenters = 500
    val centers = Array.tabulate(nCenters) { c =>
      val r = new scala.util.Random(c * 9176L + 11L)
      Array.fill(dim)(r.nextGaussian() * 2.0)
    }
    val bcCenters = spark.sparkContext.broadcast(centers)
    // noise is sized so same-center draws sit near cosine ~0.5 — the
    // cluster structure still steers the k-means cells, but the ONLY
    // pairs above the 0.95 threshold are the planted exact twins, which
    // makes recall a sharp correctness signal (with tighter noise the
    // bench instead measures legitimate mass-collapse of natural
    // near-dups, which is SemDeDup's job but not a checkable oracle)
    val genVec = udf { (id: Long) =>
      val r = new scala.util.Random(id * 2654435761L + 7L)
      val c = bcCenters.value((id % nCenters).toInt)
      Array.tabulate(dim)(i => (c(i) + 2.0 * r.nextGaussian()).toFloat)
    }
    val base = spark.range(n).select(col("id").as("vec_id"), genVec(col("id")).as("embedding"))
    // exact-copy twins (id + n): same floats, same cell, cosine 1
    val twins = base.filter(col("vec_id") % 10 === 0)
      .withColumn("vec_id", col("vec_id") + n)
    // mega-cell (ids >= 2n): `mega` byte-identical copies of one vector —
    // one fingerprint, one cell, chain-bounded pairing, one survivor
    val megaVec = udf { () =>
      val r = new scala.util.Random(424242L)
      Array.fill(dim)((r.nextGaussian() * 2.0).toFloat)
    }
    val megaRows = spark.range(mega.toLong)
      .select((col("id") + 2L * n).as("vec_id"), megaVec().as("embedding"))
    val emb = base.unionByName(twins).unionByName(megaRows)
      .repartition(cpus * 2).cache()
    val total = emb.count()
    val planted = total - n - mega

    val t0 = System.nanoTime()
    val kept = Dedup.semanticDedup(emb, "vec_id", "embedding",
      threshold = 0.95, nCentroids = nCentroids)
    val survivors = kept.count()
    val secs = (System.nanoTime() - t0) / 1e9

    val droppedIds = emb.select(col("vec_id"))
      .join(kept.select(col("vec_id")), Seq("vec_id"), "left_anti")
      .cache()
    val twinsDropped = droppedIds
      .filter(col("vec_id") >= n && col("vec_id") < 2L * n).count()
    val megaDropped = droppedIds.filter(col("vec_id") >= 2L * n).count()
    val naturalDropped = total - survivors - twinsDropped - megaDropped
    // pair budget actually paid: m*(m-1)/2 per cell at or under the
    // maxCell chain bound, m-1 above it — semanticDedup's own assignment
    // is internal to the call, so this REPORT pays a second training +
    // assignment pass (bench-only cost, excluded from `secs`)
    val maxCell = 10000
    val (assigned, _) = graft.similarity.Similarity.ivfAssign(emb, "vec_id", "embedding", nCentroids)
    val budget = assigned.groupBy("cell").count()
      .agg(sum(expr(
        s"CASE WHEN count > $maxCell THEN count - 1 ELSE count * (count - 1) / 2 END")))
      .head().getDouble(0).toLong
    val quad = total * (total - 1) / 2
    println(f"""{"vectors":$total,"cells":$nCentroids,"planted_twins":$planted,"twins_dropped":$twinsDropped,"mega_copies":$mega,"mega_dropped":$megaDropped,"natural_dropped":$naturalDropped,"recall":${twinsDropped.toDouble / planted}%.4f,"pair_budget":$budget,"exhaustive_pairs":$quad,"budget_frac":${budget.toDouble / quad}%.5f,"secs":$secs%.1f}""")
    spark.stop()
  }
}
