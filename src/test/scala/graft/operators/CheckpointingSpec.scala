package graft.operators

import graft.SparkSpec
import graft.dedup.Dedup
import graft.pipeline.{Checkpointing, CorpusPipeline, Materialize}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Every user of a lineage cut, run under `Materialize.Reliable`:
  *  - its rows equal the `Local` run's (a cut only materializes);
  *  - after it returns, the directory holds exactly the cut paths that
  *    back the returned frame — every superseded round was released;
  *  - a second run with the same `Reliable` instance succeeds and leaves
  *    the first run's frame readable (each cut has its own path).
  */
class CheckpointingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val edges = {
    val e = for (i <- 0L until 60L; k <- Seq(3L, 11L, 23L))
      yield (i % 40, (i * 7 + k) % 40)
    e.distinct.toDF("src", "dst")
  }
  private lazy val weighted =
    edges.withColumn("w", (col("src") + col("dst")) % 5 + 1)
  private lazy val seeds = Seq(0L, 5L).toDF("node")
  private lazy val pairs =
    (0L until 30L).filter(_ % 7 != 6).map(i => (i, i + 1)).toDF("a", "b")

  private val english =
    "the quick brown fox jumps over the lazy dog and it was happy for the day " * 3
  private lazy val docs = Seq(
    (1L, english + "one"),
    (2L, english + "one"),
    (3L, english + "two"),
    (7L, "an entirely different english document about the history of the spark engine " +
      "that is long enough to pass the quality gate and it was written for this test " * 2)
  ).toDF("doc_id", "text")
  private lazy val benchmark =
    Seq((100L, "benchmark question text that is the held out eval set for this run"))
      .toDF("doc_id", "text")

  private val cutUsers: Seq[(String, Checkpointing => DataFrame)] = Seq(
    "PageRank" -> (c => PageRank.run(edges, iters = 3, checkpointing = c)),
    "PageRank.runUntilFixpoint" ->
      (c => PageRank.runUntilFixpoint(edges, maxIters = 4, checkpointing = c)._1),
    "PageRank.personalized" ->
      (c => PageRank.personalized(edges, seeds, iters = 3, checkpointing = c)),
    "Hits" -> (c => Hits.run(edges, iters = 3, checkpointing = c)),
    "Hits.runUntilFixpoint" ->
      (c => Hits.runUntilFixpoint(edges, maxIters = 3, checkpointing = c)._1),
    "KCore" -> (c => KCore.membership(edges, 3, checkpointing = c)),
    "Reachability" -> (c => Reachability.bounded(edges, seeds, 3, c)),
    "ShortestPaths" -> (c => ShortestPaths.run(weighted, seeds, 3, c)._1),
    "dupClusters" ->
      (c => Dedup.dupClusters(pairs, checkpointing = c, driverBound = 0)),
    "curate" -> (c => CorpusPipeline.curate(docs, "text", "doc_id",
      CorpusPipeline.Config(nearDupThreshold = 0.6, materialize = c),
      benchmark = Some(benchmark)))
  )

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** The cut paths (direct children of `dir`) the frame's scans read. */
  private def backing(df: DataFrame, dir: java.io.File): Set[String] = {
    val root = dir.getAbsoluteFile.toPath
    df.inputFiles.map(f => java.nio.file.Paths.get(new java.net.URI(f)))
      .filter(_.startsWith(root))
      .map(p => root.relativize(p).getName(0).toString).toSet
  }

  for ((name, run) <- cutUsers)
    test(s"$name: Reliable cuts are row-identical to Local") {
      val local = rows(run(Materialize.Local))
      val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toFile
      val reliable = Materialize.Reliable(dir.getAbsolutePath)
      val first = run(reliable)
      assert(rows(first) == local)
      val left = dir.list().toSet
      assert(left.nonEmpty, "the Reliable result is not file-backed")
      assert(left == backing(first, dir),
        s"files that back nothing: ${left -- backing(first, dir)}")
      // the same instance again: fresh paths, the first frame untouched
      val second = run(reliable)
      assert(rows(second) == local)
      assert(rows(first) == local)
      assert(dir.list().toSet == backing(first, dir) ++ backing(second, dir))
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
    }
}
