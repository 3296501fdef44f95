package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Hand-pinned PageRank semantics (L69): exact scaled-integer values on
  * tiny graphs, dangling redistribution, mass conservation, and
  * partitioning invariance. Cross-engine equality is the g01 oracle.
  */
class PageRankSpec extends SparkSpec {
  import spark.implicits._

  private def ranks(edges: Seq[(Long, Long)], iters: Int) =
    PageRank.run(edges.toDF("src", "dst"), iters)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap

  test("a 2-cycle is a fixed point at uniform rank") {
    val r = ranks(Seq((1L, 2L), (2L, 1L)), iters = 5)
    assert(r == Map(1L -> 500000000000L, 2L -> 500000000000L))
  }

  test("dangling mass redistributes: hand-computed one-iteration values") {
    // A→B, B dangling. init 5e11 each; after one iteration:
    // A = round(0.075e12 + 0.85·(0 + 5e11/2))       = 287_500_000_000
    // B = round(0.075e12 + 0.85·(5e11 + 5e11/2))    = 712_500_000_000
    val r = ranks(Seq((1L, 2L)), iters = 1)
    assert(r == Map(1L -> 287500000000L, 2L -> 712500000000L))
    // mass is conserved to the rounding grid
    assert(r.values.sum == 1000000000000L)
  }

  test("a hub out-ranks its spokes; mass conserved over many iterations") {
    // spokes 2..6 all link to hub 1; hub links back to spoke 2. The
    // cycle's oscillating mode decays as 0.85^i, so run enough
    // iterations for the stationary ordering (hub ≈ 18.9·base vs
    // spoke2 ≈ 17.1·base) to dominate
    val edges = (2L to 6L).map(i => (i, 1L)) :+ (1L, 2L)
    val r = ranks(edges, iters = 40)
    assert(r.size == 6)
    assert(r(1L) == r.values.max)
    assert(r(3L) == r(4L) && r(4L) == r(5L) && r(5L) == r(6L))
    assert(r(2L) > r(3L)) // spoke 2 also receives the hub's rank
    val drift = math.abs(r.values.sum - 1000000000000L)
    assert(drift <= 10L * 6 * 2, s"mass drifted by $drift")
  }

  test("results are partitioning-invariant") {
    val edges = (1L to 300L).map(i => (i, (i * 13 + 7) % 100))
    val a = PageRank.run(edges.toDF("src", "dst"), iters = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val b = PageRank.run(edges.toDF("src", "dst").repartition(17), iters = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(a == b)
    // the final double rank is the exact scaled division
    val one = PageRank.run(edges.toDF("src", "dst"), iters = 1)
      .select(col("rank_scaled"), col("rank")).head()
    assert(one.getDouble(1) == one.getLong(0) / 1e12)
  }

  test("fixpoint early-exit: stops once an iteration reproduces the " +
    "vector exactly, equals fixed-iters, and honors maxIters") {
    // a 4-cycle is an exact fixpoint after iteration 1 (uniform rank,
    // scale/n integral): detected at iteration 2
    val ring = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val (fp, used) = PageRank.runUntilFixpoint(ring, maxIters = 20)
    assert(used == 2, s"used=$used")
    val got = fp.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val fixed = PageRank.run(ring, iters = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == fixed)
    // a graph still moving at maxIters runs all of them and matches the
    // fixed path at that count (A→B dangles mass back and forth)
    val chain = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val (fp2, used2) = PageRank.runUntilFixpoint(chain, maxIters = 2)
    assert(used2 == 2, s"used2=$used2")
    val got2 = fp2.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val fixed2 = PageRank.run(chain, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got2 == fixed2)
    // Reliable policy: the previous iteration's cut stays readable for
    // the comparison; result identical
    val dir = java.nio.file.Files.createTempDirectory("pr-fp").toString
    val (fp3, used3) = PageRank.runUntilFixpoint(ring, maxIters = 20,
      checkpointing = graft.pipeline.Materialize.Reliable(dir))
    assert(used3 == 2)
    assert(fp3.collect().map(r => (r.getLong(0), r.getLong(1))).toMap == got)
  }

  test("personalized: unreachable nodes hold exact 0; rank concentrates " +
    "near the seeds; seeds outside the edge list dangle but count") {
    // two disjoint components: 1→2→3 and 10→11
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val r = PageRank.personalized(edges, Seq(1L).toDF("node"), iters = 6)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    // the 10→11 component is unreachable from seed 1: EXACT integer 0
    assert(r(10L) == 0L && r(11L) == 0L, s"$r")
    assert(r(1L) > 0L && r(2L) > 0L && r(3L) > 0L)
    // the seed's own teleport share keeps it ranked above the far tail
    assert(r(1L) > r(3L), s"$r")
    // a seed with no edges at all still holds (and re-teleports) mass
    val r2 = PageRank.personalized(edges, Seq(99L).toDF("node"), iters = 3)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(r2(99L) > 0L && r2(1L) == 0L, s"$r2")
    // partitioning-invariant like the uniform path
    val a = PageRank.personalized(edges, Seq(1L).toDF("node"), iters = 4)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    val b = PageRank.personalized(edges.repartition(7),
        Seq(1L).toDF("node"), iters = 4)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(a == b)
    intercept[IllegalArgumentException] {
      PageRank.personalized(edges, spark.emptyDataFrame
        .withColumn("node", lit(1L)).limit(0), iters = 2)
    }
  }
}
