package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Engine queries run repeatedly in one shared session: each run sees its
  * own fresh data, and no run leaves conf behind in the caller's session. */
class EngineQueriesSessionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("lineage_roundtrip decodes every row on two runs in one session") {
    // each run deletes and re-encodes its scratch dir: the manifest cache
    // must never serve the previous run's listing
    (1 to 2).foreach { run =>
      val r = EngineQueries.lineageRoundtrip(spark, sf).collect()
      assert(r.length == 1)
      val row = r(0)
      val decoded = row.getLong(row.fieldIndex("decoded_rows"))
      val expected = row.getLong(row.fieldIndex("expected_rows"))
      assert(decoded == expected && expected > 0, s"run $run")
      assert(row.getLong(row.fieldIndex("partitions_resumed_run")) == 0L)
    }
  }

  test("graft_spj leaves the caller's session conf unchanged") {
    val before = spark.conf.getAll
    // the query requires its 1-Exchange plan in-line: a regression throws
    val rows = EngineQueries.graftSpj(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(spark.conf.getAll == before)
  }
}
