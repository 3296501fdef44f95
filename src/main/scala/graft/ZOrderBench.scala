package graft

import org.apache.spark.sql.functions._
import graft.operators.ZOrder

/** Evidence that z-order layout (ZOrder.cluster) buys multi-column scan
  * pruning that a lexical sort structurally cannot.
  *
  * Synthetic shape: 4M rows, x/y uniform in [0, 4096) (xxhash64-derived,
  * deterministic), a ~64-byte payload so data bytes dominate footers.
  * Two layouts of the SAME rows — lexical (range-partitioned + sorted on
  * x) and z-ordered on (x, y) — each written as `files` parquet files,
  * then three predicate shapes against both:
  *
  *  - x-slab (x in a 64-wide band, any y): lexical's home turf — its
  *    row groups are tight on x. Z-order should stay within a small
  *    factor (√-law: the curve keeps both dimensions partially sorted).
  *  - y-slab (y in a 64-wide band, any x): lexical row groups span ALL
  *    of y, so every row group survives stats pruning; z-order row
  *    groups cover rectangles, so only the grid row intersecting the
  *    band survives.
  *  - box (both 64-wide): lexical prunes to the x-slab; z-order prunes
  *    to ~the box.
  *
  * Measured DETERMINISTICALLY from the parquet FOOTERS: a row group
  * survives iff its column min/max ranges overlap the predicate — the
  * exact test every stats-pruning reader (Spark, DuckDB, Trino, Iceberg
  * planning) applies — and the cost reported is the surviving row
  * groups' compressed bytes, i.e. what such a reader must fetch.
  * (Runtime byte counters are NOT used: Spark 4's parquet reader does
  * local IO through nio, invisible to Hadoop FS statistics.) Spark
  * query walls and result-count equality across layouts ride along as
  * secondary signals.
  *
  * Run: `runMain graft.ZOrderBench [rows=4000000] [files=256] [out.json]`.
  */
object ZOrderBench {

  /** (xmin, xmax, ymin, ymax, compressedBytes) per row group under dir. */
  private def rowGroupStats(spark: org.apache.spark.sql.SparkSession,
                            dir: String): Seq[(Long, Long, Long, Long, Long)] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(conf)
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getPath)
    files.toSeq.flatMap { p =>
      val rd = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try rd.getFooter.getBlocks.asScala.map { b =>
        def range(col: String): (Long, Long) = {
          val cc = b.getColumns.asScala
            .find(_.getPath.toDotString == col).get
          val st = cc.getStatistics
          (st.genericGetMin.asInstanceOf[java.lang.Long].longValue(),
            st.genericGetMax.asInstanceOf[java.lang.Long].longValue())
        }
        val (xmin, xmax) = range("x")
        val (ymin, ymax) = range("y")
        (xmin, xmax, ymin, ymax, b.getCompressedSize)
      }.toSeq
      finally rd.close()
    }
  }

  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toInt).getOrElse(4000000)
    val files = args.lift(1).map(_.toInt).getOrElse(256)
    val out = args.lift(2)
    val cpus = Tables.localCpus
    val spark = Tables.newSession("graft-zorderbench", s"local[$cpus]", cpus)

    val base = spark.range(rows).select(
      pmod(xxhash64(col("id")), lit(4096L)).as("x"),
      pmod(xxhash64(col("id"), lit(1)), lit(4096L)).as("y"),
      // payload makes row-group bytes dominate footer overhead
      sha2(concat(col("id").cast("string"), lit("p")), 256).as("payload"))

    val dir = java.nio.file.Files.createTempDirectory("zorderbench").toString
    val lexPath = s"$dir/lexical"
    val zPath = s"$dir/zorder"
    base.repartitionByRange(files, col("x")).sortWithinPartitions("x")
      .write.parquet(lexPath)
    ZOrder.cluster(base, "x", "y", files).write.parquet(zPath)

    // (name, xlo, xhi, ylo, yhi) — unbounded sides use the full domain
    val preds = Seq(
      ("x_slab", 1000L, 1063L, 0L, 4095L),
      ("y_slab", 0L, 4095L, 2000L, 2063L),
      ("box", 1000L, 1063L, 2000L, 2063L))

    def survivors(path: String) = {
      val rgs = rowGroupStats(spark, path)
      preds.map { case (name, xlo, xhi, ylo, yhi) =>
        val hit = rgs.filter { case (xmin, xmax, ymin, ymax, _) =>
          xmax >= xlo && xmin <= xhi && ymax >= ylo && ymin <= yhi
        }
        (name, hit.size, hit.map(_._5).sum, rgs.size)
      }
    }

    def walls(path: String) = preds.map { case (name, xlo, xhi, ylo, yhi) =>
      val p = col("x").between(xlo, xhi) && col("y").between(ylo, yhi)
      val t0 = System.nanoTime()
      val n = spark.read.parquet(path).filter(p)
        .agg(count(lit(1)), sum(length(col("payload")))).collect()(0).getLong(0)
      (name, n, (System.nanoTime() - t0) / 1e9)
    }

    // warm (footer caches, codegen) before timing
    Seq(lexPath, zPath).foreach { p =>
      spark.read.parquet(p).filter(col("x") === -1).count()
    }
    val (lexS, zS) = (survivors(lexPath), survivors(zPath))
    val (lexW, zW) = (walls(lexPath), walls(zPath))
    lexW.zip(zW).foreach { case ((q, nl, _), (_, nz, _)) =>
      require(nl == nz, s"$q: layout changed the answer: lexical $nl z $nz")
    }

    val fields = preds.indices.flatMap { i =>
      val (q, lexRg, lexB, totRg) = lexS(i)
      val (_, zRg, zB, _) = zS(i)
      Seq(
        s""""${q}_rows":${lexW(i)._2}""",
        s""""${q}_lexical_rowgroups":$lexRg""",
        s""""${q}_zorder_rowgroups":$zRg""",
        f""""${q}_lexical_mb":${lexB / 1e6}%.1f""",
        f""""${q}_zorder_mb":${zB / 1e6}%.1f""",
        f""""${q}_bytes_ratio":${lexB.toDouble / math.max(zB, 1)}%.2f""",
        f""""${q}_lexical_secs":${lexW(i)._3}%.2f""",
        f""""${q}_zorder_secs":${zW(i)._3}%.2f""",
        s""""total_rowgroups":$totRg""")
    }.distinct
    // warehouse path: the same layout win through Warehouse.optimizeZorder
    // on a BUCKETED table (bucket key orthogonal to the curve columns —
    // the registry/index shape), measured as surviving row groups for the
    // box predicate before/after the rewrite
    val whTable = "zorderbench_wh"
    val whBase = spark.range(rows).select(
      col("id"),
      pmod(xxhash64(col("id")), lit(4096L)).as("x"),
      pmod(xxhash64(col("id"), lit(1)), lit(4096L)).as("y"),
      sha2(concat(col("id").cast("string"), lit("p")), 256).as("payload"))
    graft.sources.Warehouse.writeBucketed(whBase, whTable, "id", 8)
    def whLoc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(whTable)).location.toString
    def whSurvivors() = {
      val rgs = rowGroupStats(spark, whLoc)
      val hit = rgs.count { case (xmin, xmax, ymin, ymax, _) =>
        xmax >= 1000L && xmin <= 1063L && ymax >= 2000L && ymin <= 2063L }
      (hit, rgs.size)
    }
    val (whHitBefore, whTotBefore) = whSurvivors()
    val whT0 = System.nanoTime()
    graft.sources.Warehouse.optimizeZorder(spark, whTable, Seq("x", "y"),
      rowGroupBytes = 1024 * 1024)
    val whRewriteSecs = (System.nanoTime() - whT0) / 1e9
    val (whHitAfter, whTotAfter) = whSurvivors()
    val whFields = Seq(
      s""""wh_box_rowgroups_before":$whHitBefore""",
      s""""wh_total_rowgroups_before":$whTotBefore""",
      s""""wh_box_rowgroups_after":$whHitAfter""",
      s""""wh_total_rowgroups_after":$whTotAfter""",
      f""""wh_rewrite_secs":$whRewriteSecs%.1f""")
    graft.sources.Warehouse.dropTableAndLocation(spark, whTable)

    val json = s"""{"rows":$rows,"files":$files,${(fields ++ whFields).mkString(",")}}"""
    println(json)
    out.foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p), json.getBytes("UTF-8"))
    }
    spark.stop()
  }
}
