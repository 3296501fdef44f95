package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SPARK_GRAFT_ONLY` selection and oracle SQL, without a Spark session. */
class SparkEntrySpec extends AnyFunSuite {

  test("selectQueries: no filter selects all 190 queries") {
    val all = SparkEntry.selectQueries(None)
    assert(all.size == 190)
    assert(all.keySet == SparkEntry.queries.keySet)
  }

  test("selectQueries: a full name selects exactly that query") {
    assert(SparkEntry.selectQueries(Some("q01_agg")).keySet == Set("q01_agg"))
    assert(SparkEntry.selectQueries(Some(" q01_agg , g02_hits")).keySet ==
      Set("q01_agg", "g02_hits"))
  }

  test("selectQueries: a name that matches no query fails and is named") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.selectQueries(Some("q01"))
    }
    assert(e.getMessage.contains("names no query: q01 "), e.getMessage)
    // one unknown name among known ones still fails the whole selection
    val mixed = intercept[IllegalArgumentException] {
      SparkEntry.selectQueries(Some("q01_agg,nope"))
    }
    assert(mixed.getMessage.contains("nope"), mixed.getMessage)
    intercept[IllegalArgumentException](SparkEntry.selectQueries(Some(" , ")))
  }

  test("oracleSql names the export root set after the queries were first touched") {
    SparkEntry.queries // initializes every query object
    val key = "graft.oracle.exportRoot"
    val prior = sys.props.get(key)
    val root = "/graft-spec/late-export-root"
    sys.props(key) = root
    try {
      val sql = SparkEntry.oracleSql
      assert(sql("t35_compression_ratio").contains(s"'$root/t35_expected.parquet'"),
        sql("t35_compression_ratio"))
      assert(sql("s05_knn_ivf_indexed").contains(s"$root/s05_knn_ivf_indexed_centroids.parquet"))
    } finally prior match {
      case Some(v) => sys.props(key) = v
      case None => sys.props.remove(key)
    }
  }
}
