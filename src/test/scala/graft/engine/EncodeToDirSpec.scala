package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import java.nio.file.{Files, Path, Paths}

/** `Lineage.encodeToDir` is the DSv2 sink's arranged resume write: the
  * sink's batch-tree guard runs before anything is created under the
  * target, and a partition that receives no row writes no file. */
class EncodeToDirSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def rows(prefix: String, n: Int): Seq[SeqRow] =
    (0 until n).map(i => SeqRow(f"$prefix-$i%04d", Array(i, i + 1), 2, "s"))

  /** Every regular file under `dir`, relative name -> mtime. */
  private def files(dir: String): Map[String, java.nio.file.attribute.FileTime] = {
    val root = Paths.get(dir)
    val s = Files.walk(root)
    try s.toArray.map(_.asInstanceOf[Path]).filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.getLastModifiedTime(p))
      .toMap
    finally s.close()
  }

  test("a batch-tree root is refused before anything is written; " +
      "every batch still reads back") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-e2d-tree").toString
    val cfg = EncoderConfig(chunkTokens = 1 << 10, numPartitions = 2)
    (0 until 2).foreach { b =>
      Lineage.encodeToDir(spark.createDataset(rows(s"b$b", 20)),
        f"$root/batch=$b%05d", cfg)
    }
    val before = files(root)
    intercept[IllegalArgumentException] {
      Lineage.encodeToDir(spark.createDataset(rows("root", 20)), root, cfg)
    }
    assert(!Files.exists(Paths.get(root, "_lineage")), "root _lineage created")
    assert(!Files.exists(Paths.get(root, "data")), "root data created")
    assert(files(root) == before, "the refused write touched the tree")
    (0 until 2).foreach { b =>
      val back = spark.read.format("graft").load(f"$root/batch=$b%05d")
        .as[SeqRow].collect().map(_.doc_id).toSet
      assert(back == rows(s"b$b", 20).map(_.doc_id).toSet, s"batch $b")
    }
    assert(spark.read.format("graft").load(root).count() == 40L)
  }

  test("empty partitions write no files; the count is the manifests " +
      "written, and a re-run returns 0 and rewrites nothing") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-e2d-empty").toString
    val ds = spark.createDataset(rows("doc", 3))
    val cfg = EncoderConfig(chunkTokens = 1 << 10, numPartitions = 8)
    val encoded = Lineage.encodeToDir(ds, dir, cfg)
    def named(sub: String, ext: String): Set[String] =
      Files.list(Paths.get(dir, sub)).toArray.map(_.asInstanceOf[Path])
        .map(_.getFileName.toString)
        .filter(n => n.startsWith("part-") && n.endsWith(ext)).toSet
    val manifests = named("_lineage", ".json")
    assert(encoded == manifests.size.toLong)
    assert(encoded >= 1L && encoded <= 3L, s"encoded $encoded")
    // one data file per committed partition, none for an empty one
    assert(named("data", ".graft").map(_.stripSuffix(".graft")) ==
      manifests.map(_.stripSuffix(".json")))
    val before = files(dir)
    assert(Lineage.encodeToDir(ds, dir, cfg) == 0L)
    assert(files(dir) == before, "the re-run rewrote files")
    val back = spark.read.format("graft").load(dir).as[SeqRow].collect()
    assert(back.map(_.doc_id).sorted.toSeq == rows("doc", 3).map(_.doc_id))
  }
}
