package graft.operators

import graft.SparkSpec
import graft.pipeline.{Checkpointing, Materialize}
import org.apache.spark.sql.functions._

class ReachabilitySpec extends SparkSpec {
  import spark.implicits._

  private def reach(edges: Seq[(Long, Long)], seeds: Seq[Long],
                    maxHops: Int,
                    ckpt: Checkpointing = Materialize.Local) =
    Reachability.bounded(edges.toDF("src", "dst"), seeds.toDF("node"),
        maxHops, ckpt)
      .as[(Long, Long)].collect().toMap

  test("minimum hops on a hand graph: chain, shortcut, cycle, " +
    "unreachable island") {
    // 1→2→3→4→5, shortcut 1→4, cycle 3→1, island 8→9
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L),
      (3L, 1L), (8L, 9L))
    val got = reach(edges, Seq(1L), maxHops = 10)
    // 4 via the shortcut at hop 1, NOT via the chain at hop 3; the cycle
    // never revisits 1; the island is absent
    assert(got == Map(1L -> 0L, 2L -> 1L, 4L -> 1L, 3L -> 2L, 5L -> 2L),
      s"$got")
  }

  test("maxHops bounds the expansion; 0 returns just the seeds; " +
    "multiple seeds take the minimum") {
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    assert(reach(chain, Seq(1L), 2) ==
      Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
    assert(reach(chain, Seq(1L), 0) == Map(1L -> 0L))
    // seed 4 reaches 5 at hop 1; seed 1's longer path never overrides
    assert(reach(chain, Seq(1L, 4L), 10) ==
      Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 0L, 5L -> 1L))
    // early exit: a drained frontier stops before maxHops (5 rounds
    // suffice on the chain; 1000 must not hang)
    assert(reach(chain, Seq(1L), 1000).size == 5)
  }

  test("Reliable checkpointing returns identical rows; bad args throw") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 4L))
    val dir = java.nio.file.Files.createTempDirectory("reachspec").toString
    val local = reach(edges, Seq(1L), 3)
    val reliable = reach(edges, Seq(1L), 3, Materialize.Reliable(dir))
    assert(local == reliable, s"$local vs $reliable")
    intercept[IllegalArgumentException] {
      Reachability.bounded(edges.toDF("src", "dst"),
        Seq(1L).toDF("node"), -1)
    }
  }
}
