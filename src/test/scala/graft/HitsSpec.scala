package graft

import org.apache.spark.sql.functions._
import graft.operators.Hits

class HitsSpec extends SparkSpec {
  import spark.implicits._

  /** Driver reference with the operator's exact arithmetic: long
    * half-step sums, (raw / tot * scale) in double, round to the grid.
    * (All values non-negative, so math.round ≡ Spark's HALF_UP round.)
    */
  private def ref(edges: Seq[(Long, Long)], iters: Int,
                  scale: Double = 1e12): Map[Long, (Long, Long)] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val n = nodes.size
    var h = nodes.map(_ -> math.round(scale / n)).toMap
    var a = Map.empty[Long, Long]
    for (_ <- 1 to iters) {
      val araw = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map(e => h(e._1)).sum }
      val at = araw.values.sum
      a = nodes.map(v => v ->
        math.round(araw.getOrElse(v, 0L).toDouble / at * scale)).toMap
      val hraw = edges.groupBy(_._1).map { case (u, es) =>
        u -> es.map(e => a(e._2)).sum }
      val ht = hraw.values.sum
      h = nodes.map(u => u ->
        math.round(hraw.getOrElse(u, 0L).toDouble / ht * scale)).toMap
    }
    nodes.map(v => v -> (h(v), a(v))).toMap
  }

  private val graph: Seq[(Long, Long)] = {
    // deterministic scale-free-ish digraph: node i links to (i*7+k) % 40
    val e = for (i <- 0L until 60L; k <- Seq(3L, 11L, 23L))
      yield (i % 40, (i * 7 + k) % 40)
    e.distinct
  }

  test("bit-identical to the reference arithmetic at several partitionings") {
    val expect = ref(graph, iters = 4)
    for (parts <- Seq(1, 5, 17)) {
      val got = Hits.run(graph.toDF("src", "dst").repartition(parts), iters = 4)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got === expect, s"parts=$parts")
    }
  }

  test("structure: a directory page is the top hub, its target the top authority") {
    // hub 100 links to every "content" node 1..8; content nodes all link
    // to node 9 (the canonical reference) — plus a weak unrelated pair
    val edges = (1L to 8L).map(v => (100L, v)) ++
      (1L to 8L).map(v => (v, 9L)) ++ Seq((200L, 201L))
    val rows = Hits.run(edges.toDF("src", "dst"), iters = 8).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val topHub = rows.maxBy(_._2._1)._1
    val topAuth = rows.maxBy(_._2._2)._1
    assert(topHub === 100L)
    assert(topAuth === 9L)
    // the directory page has no inlinks: negligible authority
    assert(rows(100L)._2 === 0L)
  }

  test("hub and authority scores each sum to ~scale (sum normalization)") {
    val rows = Hits.run(graph.toDF("src", "dst"), iters = 3).collect()
    val hubSum = rows.map(_.getLong(1)).sum
    val authSum = rows.map(_.getLong(2)).sum
    assert(math.abs(hubSum - 1e12.toLong) <= rows.length)
    assert(math.abs(authSum - 1e12.toLong) <= rows.length)
  }

  test("fixpoint early-exit: stops when BOTH vectors reproduce exactly, " +
    "equals fixed-iters, honors maxIters, Reliable-safe") {
    // a 4-cycle: hub = auth = uniform from iteration 1 on (each node has
    // in/out degree 1) — fixpoint detected at iteration 2
    val ring = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val (fp, used) = Hits.runUntilFixpoint(ring, maxIters = 15)
    assert(used == 2, s"used=$used")
    val got = fp.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val fixed = Hits.run(ring, iters = 15).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == fixed)
    // a still-moving graph runs all maxIters and matches the fixed path
    val (fp2, used2) = Hits.runUntilFixpoint(graph.toDF("src", "dst"),
      maxIters = 2)
    assert(used2 == 2, s"used2=$used2")
    val got2 = fp2.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val fixed2 = Hits.run(graph.toDF("src", "dst"), iters = 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got2 == fixed2)
    // Reliable: the previous iteration's cuts stay readable for the
    // comparison
    val dir = java.nio.file.Files.createTempDirectory("hits-fp").toString
    val (fp3, used3) = Hits.runUntilFixpoint(ring, maxIters = 15,
      checkpointing = graft.pipeline.Materialize.Reliable(dir))
    assert(used3 == 2)
    assert(fp3.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap == got)
  }

  test("empty edge frame fails loudly") {
    intercept[IllegalArgumentException] {
      Hits.run(Seq.empty[(Long, Long)].toDF("src", "dst"), iters = 2)
    }
  }
}
