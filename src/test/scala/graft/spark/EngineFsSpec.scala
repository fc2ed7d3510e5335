package graft.spark

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{EngineFs, Lineage, SeqRow}

/** Table files on `file:` paths are created without starting a process:
  * a DSv2 append, a DELETE and an UPDATE start no `chmod`, while the files
  * keep Hadoop's default modes under the session umask, their `.crc`
  * sidecars and checksum verification; a registered `fs.file.impl` still
  * gets the engine's calls. */
class EngineFsSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = graft.SparkTestSession.spark
    s.conf.set("spark.sql.catalog.gfs", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gfs.root",
      java.nio.file.Files.createTempDirectory("graft-fs-cat").toString)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gfs.q")
    s
  }

  private def rows(from: Int, n: Int): Seq[SeqRow] =
    (from until from + n).map(i =>
      SeqRow(f"doc-$i%05d", Array.tabulate(8)(t => (i * 3 + t) % 500), 8,
        if (i % 2 == 0) "books" else "web"))

  /** Commands of the processes the JVM starts while `body` runs. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val f = java.nio.file.Files.createTempFile("graft-fs", ".jfr")
    try {
      rec.dump(f)
      jdk.jfr.consumer.RecordingFile.readAllEvents(f).asScala
        .map(_.getString("command")).toSeq
    } finally { rec.close(); java.nio.file.Files.deleteIfExists(f) }
  }

  private def allFiles(root: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val s = java.nio.file.Files.walk(root)
    try s.iterator.asScala.toList finally s.close()
  }

  test("append, DELETE and UPDATE on a file: table start no chmod and keep " +
      "default modes, .crc sidecars and checksum verification") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-fs-t").toString
    val commands = processStarts {
      spark.createDataset(rows(0, 600)).toDF().repartition(3)
        .write.format("graft").option("chunkTokens", "512").mode("append")
        .save(dir)
      spark.sql(s"CREATE TABLE gfs.q.t USING graft LOCATION '$dir'")
      spark.createDataset(rows(600, 60)).toDF().coalesce(1)
        .write.format("graft").mode("append").save(dir)
      spark.sql("DELETE FROM gfs.q.t WHERE doc_id < 'doc-00100'")
      spark.sql("UPDATE gfs.q.t SET source = 'curated' WHERE doc_id = 'doc-00301'")
    }
    assert(!commands.exists(_.startsWith("chmod")),
      s"chmod started: ${commands.filter(_.startsWith("chmod")).take(3)}")
    val t = spark.table("gfs.q.t")
    assert(t.count() == 560)
    assert(t.filter($"source" === "curated").count() == 1)

    val conf = spark.sparkContext.hadoopConfiguration
    val umask = FsPermission.getUMask(conf).toShort
    // every file and dir the writes made (the table root is the test's own)
    val files = allFiles(java.nio.file.Paths.get(dir)).tail
    files.foreach { p =>
      val mode = java.nio.file.Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
      val want = (if (java.nio.file.Files.isDirectory(p)) 0x1ff else 0x1b6) & ~umask
      assert(mode == want, s"$p mode ${mode.toOctalString}, want ${want.toOctalString}")
    }
    val names = files.map(_.getFileName.toString).toSet
    val tableFiles = files.map(_.getFileName.toString)
      .filter(n => n.endsWith(".graft") || (n.startsWith("part-") && n.endsWith(".json")))
    assert(tableFiles.exists(_.endsWith(".graft")) && tableFiles.exists(_.endsWith(".json")))
    tableFiles.foreach(n => assert(names.contains(s".$n.crc"), s"no .crc for $n"))

    // a flipped byte in the manifests fails their read through the checksum
    files.filter(p => p.getParent.getFileName.toString == "_lineage" &&
        tableFiles.contains(p.getFileName.toString) &&
        java.nio.file.Files.size(p) > 0).foreach { m =>
      val bytes = java.nio.file.Files.readAllBytes(m)
      bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x01).toByte
      java.nio.file.Files.write(m, bytes)
    }
    val err = intercept[Exception](Lineage.readManifestLocal(conf, dir, Long.MaxValue))
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ChecksumException]), err.toString)
  }

  test("a registered fs.file.impl still receives the engine's calls") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-fs-impl").toString
    spark.createDataset(rows(0, 40)).toDF().coalesce(1)
      .write.format("graft").mode("append").save(dir)
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set("fs.file.impl", classOf[EngineFsSpec.CountingFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    assert(EngineFs.get(dir, conf).isInstanceOf[EngineFsSpec.CountingFs])
    EngineFsSpec.opens.set(0)
    val (_, manifest) = Lineage.readManifestLocal(conf, dir, Long.MaxValue)
    assert(manifest.get.map(_.n_rows).sum == 40)
    assert(EngineFsSpec.opens.get > 0)
    // an unconfigured conf opens a local filesystem of the engine's own
    assert(EngineFs.get(dir, spark.sparkContext.hadoopConfiguration)
      .getClass == classOf[LocalFileSystem])
  }

  test("the local filesystem is cached like FileSystem.get: per user, and " +
      "fresh when fs.file.impl.disable.cache is set") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fs-cache").toString
    val base = spark.sparkContext.hadoopConfiguration
    val shared = EngineFs.get(dir, base)
    assert(EngineFs.get(dir, new Configuration(base)) eq shared)
    val other = org.apache.hadoop.security.UserGroupInformation
      .createRemoteUser("graft-fs-other")
      .doAs(new java.security.PrivilegedExceptionAction[org.apache.hadoop.fs.FileSystem] {
        def run() = EngineFs.get(dir, base)
      })
    assert(!(other eq shared) && other.getClass == classOf[LocalFileSystem])

    val conf = new Configuration(base)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    conf.setInt("io.file.buffer.size", 12345)
    conf.setInt("file.bytes-per-checksum", 1024)
    val a = EngineFs.get(dir, conf)
    val b = EngineFs.get(dir, conf)
    assert(!(a eq b) && !(a eq shared))
    assert(a.getClass == classOf[LocalFileSystem])
    assert(a.getConf.getInt("io.file.buffer.size", 0) == 12345)
    assert(a.asInstanceOf[LocalFileSystem].getBytesPerSum == 1024)
    // a fresh wrapper creates files without a process too
    val commands = processStarts {
      a.create(new Path(dir, "x/y.bin"), true).close()
      a.mkdirs(new Path(dir, "z"))
    }
    assert(!commands.exists(_.startsWith("chmod")), commands.toString)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "x", ".y.bin.crc")))
  }
}

object EngineFsSpec {
  val opens = new java.util.concurrent.atomic.AtomicInteger
  /** A local filesystem that counts the files opened through it. */
  final class CountingFs extends LocalFileSystem {
    override def open(f: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
      opens.incrementAndGet()
      super.open(f, bufferSize)
    }
  }
}
