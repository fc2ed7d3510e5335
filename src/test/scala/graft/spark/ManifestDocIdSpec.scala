package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{EqualTo, Filter}

import graft.engine.{EncoderConfig, Lineage, SeqRow}

/** doc_ids holding characters the manifest line escapes (control
  * characters as \u00XX, quotes, backslashes) or writes as a surrogate
  * pair must read back from the manifest exactly: the zone bounds
  * min/max_doc_id decide which chunks a point lookup or a DELETE touches,
  * and a bound read back as its escaped text prunes the chunk that holds
  * the row. Checked on both manifest executors (driver-local, and
  * distributed with `graft.plan.localManifestBytes=0`). */
class ManifestDocIdSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = graft.SparkTestSession.spark
    s.conf.set("spark.sql.catalog.gmdi", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gmdi.root",
      java.nio.file.Files.createTempDirectory("graft-docid-cat").toString)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gmdi.q")
    s
  }

  private val Special = Seq("a\tb", "a\tc", "q\u0001z", "a\"b", "a\\b",
    "x😀y", "\u001f", "n\nl")
  private val Ids = Special ++ (0 until 24).map(i => f"doc-$i%03d")

  /** One row per chunk, so every lookup rests on one chunk's zone bounds. */
  private def mkTable(): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-docid").toString
    val rows = Ids.zipWithIndex.map { case (id, i) =>
      SeqRow(id, Array(i, i + 1, i + 2, i + 3), 4, "s") }
    Lineage.encodeToDir(spark.createDataset(rows), dir,
      EncoderConfig(chunkTokens = 4, numPartitions = 2))
    dir
  }

  private def onBothExecutors(body: => Unit): Unit = {
    body
    spark.conf.set("graft.plan.localManifestBytes", "0")
    try body finally spark.conf.unset("graft.plan.localManifestBytes")
  }

  /** A Spark SQL string literal for `s`: raw characters, `\` and `'`
    * escaped. */
  private def sqlLit(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  test("manifest bounds of escaped doc_ids read back exactly") {
    val dir = mkTable()
    val bounds = Lineage.readManifest(spark, dir).collect()
      .flatMap(m => Seq(m.min_doc_id, m.max_doc_id)).toSet
    Special.foreach(id => assert(bounds(id), s"${id.map(_.toInt)} not a bound"))
  }

  test("point lookups find doc_ids with escaped characters on both executors") {
    val dir = mkTable()
    onBothExecutors {
      Ids.foreach { id =>
        val df = spark.read.format("graft").load(dir)
        assert(df.filter(col("doc_id") === id).count() == 1,
          s"point lookup of ${id.map(_.toInt)}")
        val planned = GraftPlanning.prunedManifest(spark, Seq(dir),
          Array[Filter](EqualTo("doc_id", id)), Array.empty[Int])
        assert(planned.length == 1, s"${id.map(_.toInt)} planned ${planned.length} chunks")
      }
    }
  }

  test("DELETE ... WHERE doc_id = ... removes escaped doc_ids on both executors") {
    var n = 0
    onBothExecutors {
      n += 1
      val dir = mkTable()
      spark.sql(s"CREATE TABLE gmdi.q.t$n USING graft LOCATION '$dir'")
      var left = Ids.toSet
      Special.foreach { id =>
        spark.sql(s"DELETE FROM gmdi.q.t$n WHERE doc_id = ${sqlLit(id)}")
        left -= id
        val got = spark.table(s"gmdi.q.t$n").select("doc_id").collect()
          .map(_.getString(0)).toSet
        assert(got == left, s"after deleting ${id.map(_.toInt)}")
      }
    }
  }
}
