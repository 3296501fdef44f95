package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class KCoreSpec extends SparkSpec {
  import spark.implicits._

  private def core(edges: Seq[(Long, Long)], k: Int,
                   maxRounds: Int = 64): Map[Long, Long] =
    KCore.membership(edges.toDF("src", "dst"), k, maxRounds)
      .as[(Long, Long)].collect().toMap

  test("K4 with a pendant chain: the 3-core is exactly the K4; the " +
    "chain peels layer by layer") {
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    // chain hangs off node 4: 4-5-6-7 — degree-2 tail, never in a 3-core
    val edges = k4 ++ Seq((4L, 5L), (5L, 6L), (6L, 7L))
    assert(core(edges, 3) == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // the 2-core keeps only cycles: the chain still peels (no cycle)
    assert(core(edges, 2).keySet == Set(1L, 2L, 3L, 4L))
    // 5-core of K4 is empty
    assert(core(edges, 5).isEmpty)
  }

  test("peeling cascades: removing the fringe drops an interior node " +
    "below k in a later round (the multi-round fixpoint)") {
    // triangle 1-2-3, each corner also tied to a degree-1 leaf, and
    // node 3 additionally tied to 4 which is tied to the leaves' world:
    // with k = 2 leaves peel round 1; nothing else falls (triangle
    // survives). With a path 3-4-5, 5 peels, THEN 4 (cascade).
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    val got = core(edges, 2)
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L), s"$got")
    // unconverged bound fails loudly instead of returning a non-core
    intercept[IllegalStateException] {
      core(edges, 2, maxRounds = 1)
    }
    intercept[IllegalArgumentException] { core(edges, 0) }
  }

  test("canonicalization and Reliable parity") {
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    val noisy = tri ++ Seq((2L, 1L), (1L, 1L), (2L, 3L))
    assert(core(noisy, 2) == core(tri, 2))
    val dir = java.nio.file.Files.createTempDirectory("kcorespec").toString
    val rel = KCore.membership(noisy.toDF("src", "dst"), 2,
        checkpointing = graft.pipeline.Materialize.Reliable(dir))
      .as[(Long, Long)].collect().toMap
    assert(rel == core(tri, 2))
  }
}
