package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.SeqRow

/** The driver-side manifest cache lets go of deleted tables: an entry
  * whose `_lineage` dir is gone is dropped at the next insert, and DROP
  * TABLE invalidates the dropped table's entry even when its data stays. */
class ManifestCacheSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  private def table(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-mcache-$tag").toString
    import spark.implicits._
    spark.createDataset((0 until 200).map(i =>
      SeqRow(f"$tag-$i%06d", Array(i, i + 1, 7), 3, "s"))).toDF()
      .repartition(2).write.format("graft").mode("append").save(d)
    d
  }

  private def plan(dir: String): Int =
    GraftPlanning.prunedManifest(spark, Seq(dir), Array.empty, Array.empty).length

  private def cached(dir: String): Boolean =
    ManifestCache.cachedDirs.exists(_.contains(dir))

  test("a deleted table's entry is gone after the next table is read") {
    val a = table("a")
    val b = table("b")
    assert(plan(a) > 0)
    assert(cached(a))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(a))
    assert(plan(b) > 0)
    assert(!cached(a), s"cache still holds deleted $a")
    assert(cached(b))
  }

  test("DROP TABLE invalidates the entry, also for external data") {
    val s = spark
    val root = java.nio.file.Files.createTempDirectory("graft-mcache-cat").toString
    s.conf.set("spark.sql.catalog.mcat", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.mcat.root", root)
    val d = table("ext")
    s.sql("CREATE NAMESPACE IF NOT EXISTS mcat.ns")
    s.sql(s"CREATE TABLE mcat.ns.ext USING graft LOCATION '$d'")
    assert(s.table("mcat.ns.ext").count() == 200L)
    assert(cached(d))
    s.sql("DROP TABLE mcat.ns.ext")
    assert(!cached(d), s"cache still holds dropped $d")
    assert(new java.io.File(d, "_lineage").isDirectory) // external data stays
  }
}
