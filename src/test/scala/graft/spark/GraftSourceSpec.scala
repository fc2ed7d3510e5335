package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.engine.{EncoderConfig, Lineage, SeqRow}

/** The `format("graft")` DataSourceV2 reader over lineage dirs. */
class GraftSourceSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  private lazy val (dir, rows) = {
    val rs = (0 until 1500).map { i =>
      SeqRow(f"doc-$i%08d", Array.tabulate(12)(t => (i * 13 + t) % 50000), 12,
        if (i % 5 == 0) "books" else "web")
    }
    val d = java.nio.file.Files.createTempDirectory("graft-dsv2").toString
    import spark.implicits._
    Lineage.encodeToDir(spark.createDataset(rs), d,
      EncoderConfig(chunkTokens = 1 << 11, numPartitions = 3))
    (d, rs)
  }

  test("load() roundtrips the table bit-identically through SQL") {
    val df = spark.read.format("graft").load(dir)
    assert(df.schema.fieldNames.toSeq ==
      Seq("doc_id", "tokens", "n_tok", "source"))
    val got = df.collect().map(r =>
      r.getString(0) -> ((r.getSeq[Int](1), r.getInt(2), r.getString(3)))).toMap
    assert(got.size == rows.size)
    rows.foreach { r =>
      val (toks, n, src) = got(r.doc_id)
      assert(toks == r.tokens.toSeq && n == r.n_tok && src == r.source)
    }
    // usable from SQL like any table
    df.createOrReplaceTempView("graft_t")
    val cnt = spark.sql(
      "SELECT source, count(*) n FROM graft_t GROUP BY source ORDER BY source")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cnt == Map("books" -> 300L, "web" -> 1200L))
  }

  test("doc_id predicates prune chunks at PLANNING time (zone map)") {
    // pin one-chunk-per-task so pruning is observable as a partition count
    spark.conf.set("graft.read.maxPartitionBytes", "1")
    try {
      val df = spark.read.format("graft").load(dir)
      val total = df.rdd.getNumPartitions
      val m = Lineage.readManifest(spark, dir).collect()
      assert(total == m.length && total > 3)
      val probe = "doc-00000042"
      val expectChunks = m.count(r =>
        r.min_doc_id <= probe && r.max_doc_id >= probe)
      val filtered = df.filter(col("doc_id") === probe)
      assert(filtered.rdd.getNumPartitions == expectChunks,
        s"${filtered.rdd.getNumPartitions} partitions planned, " +
          s"zone map admits $expectChunks")
      assert(expectChunks < total, "probe must actually prune")
      assert(filtered.collect().map(_.getString(0)).toSeq == Seq(probe))
      // range pushdown too
      val ranged = df.filter(col("doc_id") >= "doc-00001490")
      assert(ranged.rdd.getNumPartitions < total)
      assert(ranged.count() == 10)
    } finally spark.conf.unset("graft.read.maxPartitionBytes")
  }

  test("chunks pack into tasks by byte budget (FilePartition-style)") {
    val m = Lineage.readManifest(spark, dir).collect()
    assert(m.length > 3)
    // default budget: this tiny table packs into far fewer tasks than
    // chunks (parallelism floor keeps it >= 1), results identical
    val packed = spark.read.format("graft").load(dir)
    assert(packed.rdd.getNumPartitions < m.length)
    assert(packed.count() == 1500L)
    assert(packed.select("doc_id").distinct().count() == 1500L)
  }

  test("write.format(graft): roundtrip, append-resume, overwrite-truncate") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-dsv2-w").toString
    val df = spark.createDataset(rows).toDF()
      .repartition(3, col("doc_id")) // deterministic membership (resume-sound)
    df.write.format("graft").mode("append")
      .option("chunkTokens", "2048").save(out)
    val got = spark.read.format("graft").load(out).as[SeqRow].collect()
      .map(r => r.doc_id -> r).toMap
    assert(got.size == rows.size)
    rows.foreach(r => assert(got(r.doc_id).tokens.sameElements(r.tokens)))
    // resume mode: re-running the same deterministic write is a no-op
    df.write.format("graft").mode("append").option("resume", "true")
      .option("chunkTokens", "2048").save(out)
    assert(spark.read.format("graft").load(out).count() == rows.size.toLong)
    // PLAIN append honors Spark's contract: new write = new partitions,
    // rows actually appended (never a silent skip of new data)
    df.write.format("graft").mode("append")
      .option("chunkTokens", "2048").save(out)
    assert(spark.read.format("graft").load(out).count() == 2L * rows.size)
    // overwrite truncates then rewrites
    spark.createDataset(rows.take(100)).toDF()
      .repartition(2, col("doc_id"))
      .write.format("graft").mode("overwrite").save(out)
    val after = spark.read.format("graft").load(out)
    assert(after.count() == 100L)
    assert(after.select("doc_id").collect().map(_.getString(0)).toSet ==
      rows.take(100).map(_.doc_id).toSet)
  }

  test("sink chunks are BYTE-IDENTICAL to encodeToDir's (push == pull)") {
    import spark.implicits._
    // ragged rows: zero-token, fat, skewed sources
    val rng = new scala.util.Random(7)
    val rs = (0 until 700).map { i =>
      val n = rng.nextInt(60)
      SeqRow(f"doc-$i%08d", Array.fill(n)(rng.nextInt(50000)), n,
        if (i % 7 == 0) "a" else "b")
    }
    val dirA = java.nio.file.Files.createTempDirectory("graft-eq-a").toString
    graft.engine.Lineage.encodeToDir(spark.createDataset(rs), dirA,
      EncoderConfig(chunkTokens = 4096, numPartitions = 3))
    // same arrangement + the same published dict => the DSv2 writer's
    // push-mode slicing must reproduce encodeToDir's bytes exactly
    val dirB = java.nio.file.Files.createTempDirectory("graft-eq-b").toString
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dirB, "_lineage"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(dirA, "_lineage/_shared_dict.bin"),
      java.nio.file.Paths.get(dirB, "_lineage/_shared_dict.bin"))
    spark.createDataset(rs)
      .repartition(3, col("doc_id"))
      .sortWithinPartitions("source", "doc_id") // = Encoder.arrange
      .write.format("graft").mode("append")
      .option("chunkTokens", "4096").save(dirB)
    (0 until 3).foreach { p =>
      val a = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dirA, f"data/part-$p%05d.graft"))
      val b = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dirB, f"data/part-$p%05d.graft"))
      assert(java.util.Arrays.equals(a, b), s"partition $p bytes diverge")
    }
  }

  test("the row cap: 65,537 one-token rows in one partition chunk as " +
      "65,536 + 1 on both writers, byte for byte") {
    import spark.implicits._
    val rs = (0 until 65537).map(i =>
      SeqRow(f"doc-$i%08d", Array(i % 1000), 1, "s"))
    // the default token budget (2^20) is never reached: only the row cap
    // closes the first chunk
    val dirA = java.nio.file.Files.createTempDirectory("graft-cap-a").toString
    graft.engine.Lineage.encodeToDir(spark.createDataset(rs), dirA,
      EncoderConfig(numPartitions = 1))
    val dirB = java.nio.file.Files.createTempDirectory("graft-cap-b").toString
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dirB, "_lineage"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(dirA, "_lineage/_shared_dict.bin"),
      java.nio.file.Paths.get(dirB, "_lineage/_shared_dict.bin"))
    spark.createDataset(rs).write.format("graft").mode("append")
      .option("arrange", "1").save(dirB)
    Seq(dirA, dirB).foreach { d =>
      val chunkRows = Lineage.readManifest(spark, d).collect()
        .sortBy(_.seq).map(_.n_rows).toSeq
      assert(chunkRows == Seq(65536, 1), s"$d: $chunkRows")
    }
    val a = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dirA, "data/part-00000.graft"))
    val b = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dirB, "data/part-00000.graft"))
    assert(java.util.Arrays.equals(a, b), "part file bytes diverge")
  }

  test("option(arrange, n): Spark arranges the write; bytes == encodeToDir") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val rs = (0 until 600).map { i =>
      val n = rng.nextInt(50)
      SeqRow(f"doc-$i%08d", Array.fill(n)(rng.nextInt(50000)), n,
        if (i % 3 == 0) "x" else "y")
    }
    val dirA = java.nio.file.Files.createTempDirectory("graft-arr-a").toString
    graft.engine.Lineage.encodeToDir(spark.createDataset(rs), dirA,
      EncoderConfig(chunkTokens = 4096, numPartitions = 3))
    val dirB = java.nio.file.Files.createTempDirectory("graft-arr-b").toString
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dirB, "_lineage"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(dirA, "_lineage/_shared_dict.bin"),
      java.nio.file.Paths.get(dirB, "_lineage/_shared_dict.bin"))
    // NO caller-side repartition/sort: the sink DECLARES the arrangement
    // (RequiresDistributionAndOrdering) and Spark inserts it
    spark.createDataset(rs).repartition(7) // deliberately "wrong" layout
      .write.format("graft").mode("append")
      .option("arrange", "3").option("chunkTokens", "4096").save(dirB)
    (0 until 3).foreach { p =>
      val a = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dirA, f"data/part-$p%05d.graft"))
      val b = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dirB, f"data/part-$p%05d.graft"))
      assert(java.util.Arrays.equals(a, b), s"partition $p bytes diverge")
    }
  }

  test("readStream.format(graft): incremental, marker-gated consumption") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-ss").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ss-ck").toString
    val cfg = EncoderConfig(chunkTokens = 1 << 10, numPartitions = 2)
    def rowsOf(b: Int) = (0 until 200).map(i =>
      SeqRow(f"doc-$b%02d-$i%06d", Array(b * 1000 + i), 1, "s"))
    def writeBatch(b: Int, ready: Boolean): Unit = {
      val d = f"$root/batch=$b%05d"
      graft.engine.Lineage.encodeToDir(spark.createDataset(rowsOf(b)), d, cfg)
      if (ready) graft.engine.Lineage.markBatchReady(spark, d)
    }
    writeBatch(0, ready = true)
    writeBatch(1, ready = true)
    val got = scala.collection.mutable.Set.empty[String]
    def drain(): Unit = {
      val q = spark.readStream.format("graft").load(root)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          got ++= df.collect().map(_.getString(0)); ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      ()
    }
    drain()
    assert(got.size == 400, s"first drain saw ${got.size}")
    // a batch WITHOUT the ready marker is invisible — never half-consumed
    writeBatch(2, ready = false)
    drain()
    assert(got.size == 400, "unready batch must not be consumed")
    // marker flips visibility; the checkpointed offset resumes so the next
    // drain delivers ONLY the new batch
    got.clear()
    graft.engine.Lineage.markBatchReady(spark, s"$root/batch=00002")
    drain()
    assert(got.size == 200 && got.forall(_.startsWith("doc-02")),
      s"incremental drain saw ${got.size}")
  }

  test("stream-tree marker: in-flight FIRST batch invisible to batch reads") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-tree-mk").toString
    // the streaming sink writes the tree marker BEFORE the first batch dir
    Lineage.markStreamTree(spark, root)
    // a marked-but-empty tree is a legitimate pre-start stream: reads empty,
    // does not throw "neither lineage nor batch tree"
    assert(spark.read.format("graft").load(root).count() == 0L)
    // batch 0 fully written but not yet READY-marked = in-flight: without
    // the tree marker this would be mistaken for a marker-less at-rest tree
    // and consumed mid-write; with it, the batch stays invisible
    Lineage.encodeToDir(spark.createDataset((0 until 50).map(i =>
      SeqRow(f"d-$i%04d", Array(i), 1, "s"))), s"$root/batch=00000",
      EncoderConfig(chunkTokens = 1 << 10, numPartitions = 1))
    assert(spark.read.format("graft").load(root).count() == 0L,
      "in-flight first batch leaked into a batch read")
    Lineage.markBatchReady(spark, s"$root/batch=00000")
    assert(spark.read.format("graft").load(root).count() == 50L)
  }

  test("column pruning has teeth: payload is never decoded when unselected") {
    // corrupt one byte INSIDE the first chunk's token payload on disk
    val m = Lineage.readManifest(spark, dir).collect().minBy(_.offset)
    val dataFile = java.nio.file.Paths.get(dir,
      f"data/part-${m.part_id}%05d.graft")
    val bytes = java.nio.file.Files.readAllBytes(dataFile)
    val at = m.offset.toInt + 10 // past the frame varint, inside the payload
    bytes(at) = (bytes(at) ^ 0x40).toByte
    java.nio.file.Files.write(dataFile, bytes)
    // drop Hadoop's OWN checksum sidecar (we mutated behind its back; the
    // point here is the ENGINE's payload CRC, not ChecksumFileSystem's)
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(dir,
      f"data/.part-${m.part_id}%05d.graft.crc"))
    try {
      val df = spark.read.format("graft").load(dir)
      // side-column projection never touches the payload -> still works
      val sides = df.select("doc_id", "n_tok", "source")
        .filter(col("source") === "books").count()
      assert(sides == 300L)
      // even count() never touches payloads (aggregates prune every column)
      assert(df.count() == 1500L)
      // but materializing tokens MUST hit the payload CRC and fail loudly
      intercept[org.apache.spark.SparkException] {
        df.select("tokens").collect()
      }
    } finally {
      bytes(at) = (bytes(at) ^ 0x40).toByte // restore for other tests
      java.nio.file.Files.write(dataFile, bytes)
    }
  }
}
