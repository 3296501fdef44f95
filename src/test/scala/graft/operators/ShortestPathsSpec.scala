package graft.operators

import graft.SparkSpec
import graft.pipeline.{Checkpointing, Materialize}
import org.apache.spark.sql.functions._

class ShortestPathsSpec extends SparkSpec {
  import spark.implicits._

  private def run(edges: Seq[(Long, Long, Long)], seeds: Seq[Long],
                  maxRounds: Int,
                  cp: Checkpointing = Materialize.Local) = {
    val (df, rounds) = ShortestPaths.run(
      edges.toDF("src", "dst", "w"), seeds.toDF("node"), maxRounds, cp)
    (df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, rounds)
  }

  test("weighted shortest paths: cheaper multi-hop beats direct edge; " +
    "seeds at 0; unreachable absent; early exit before the bound") {
    val edges = Seq((1L, 2L, 5L), (2L, 3L, 1L), (1L, 3L, 10L),
      (9L, 10L, 1L)) // 9→10 disconnected from seed 1
    val (got, rounds) = run(edges, Seq(1L), maxRounds = 10)
    assert(got == Map(1L -> 0L, 2L -> 5L, 3L -> 6L))
    // converged well before 10: round 1 improves {2,3}, round 2 improves
    // {3}, round 3 improves nothing → 3 rounds
    assert(rounds == 3, s"rounds=$rounds")
  }

  test("maxRounds bounds path hop length exactly (the oracle contract)") {
    val edges = Seq((1L, 2L, 5L), (2L, 3L, 1L), (1L, 3L, 10L))
    // one round: only 1-edge paths — node 3 still holds the direct 10
    val (r1, _) = run(edges, Seq(1L), maxRounds = 1)
    assert(r1 == Map(1L -> 0L, 2L -> 5L, 3L -> 10L))
    // zero rounds: just the seeds
    val (r0, rounds0) = run(edges, Seq(1L), maxRounds = 0)
    assert(r0 == Map(1L -> 0L) && rounds0 == 0)
  }

  test("a node improved in a later round re-relaxes its out-edges " +
    "(frontier re-expansion)") {
    // 1→2 costs 10 direct, but 1→3→2 costs 2; node 2's improvement at
    // round 2 must re-relax 2→4 to pull node 4 from 11 down to 3
    val edges = Seq((1L, 2L, 10L), (1L, 3L, 1L), (3L, 2L, 1L),
      (2L, 4L, 1L))
    val (got, rounds) = run(edges, Seq(1L), maxRounds = 10)
    assert(got == Map(1L -> 0L, 2L -> 2L, 3L -> 1L, 4L -> 3L))
    assert(rounds == 4, s"rounds=$rounds") // round 4 finds no improvement
  }

  test("multiple seeds take the elementwise minimum; zero-weight edges " +
    "and cycles converge") {
    val edges = Seq((1L, 2L, 3L), (5L, 2L, 1L), (2L, 1L, 0L),
      (1L, 1L, 4L)) // back-edge + self-loop: cycles must not spin
    val (got, _) = run(edges, Seq(1L, 5L), maxRounds = 20)
    assert(got == Map(1L -> 0L, 5L -> 0L, 2L -> 1L))
  }

  test("Reliable checkpointing returns identical rows") {
    val edges = Seq((1L, 2L, 10L), (1L, 3L, 1L), (3L, 2L, 1L),
      (2L, 4L, 1L))
    val dir = java.nio.file.Files.createTempDirectory("sssp").toString
    val (got, rounds) = run(edges, Seq(1L), maxRounds = 10,
      Materialize.Reliable(dir))
    assert(got == Map(1L -> 0L, 2L -> 2L, 3L -> 1L, 4L -> 3L))
    assert(rounds == 4)
  }

  test("negative maxRounds fails loudly") {
    intercept[IllegalArgumentException] {
      ShortestPaths.run(Seq((1L, 2L, 1L)).toDF("src", "dst", "w"),
        Seq(1L).toDF("node"), maxRounds = -1)
    }
  }
}
