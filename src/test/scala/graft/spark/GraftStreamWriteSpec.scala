package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.engine.{EncoderConfig, Lineage, SeqRow}

/** Round-5 streaming surface: admission control on the incremental reader
  * (`maxBatchesPerTrigger`), and the native `writeStream.format("graft")`
  * sink (STREAMING_WRITE) — epoch-per-batch-dir, READY-marked at commit. */
class GraftStreamWriteSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  private def rowsOf(b: Int, n: Int = 200): Seq[SeqRow] =
    (0 until n).map(i => SeqRow(f"doc-$b%02d-$i%06d", Array(b * 1000 + i), 1, "s"))

  test("maxBatchesPerTrigger: catch-up is incremental with exact offsets") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-adm").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-adm-ck").toString
    val cfg = EncoderConfig(chunkTokens = 1 << 10, numPartitions = 1)
    (0 until 5).foreach { b =>
      val d = f"$root/batch=$b%05d"
      Lineage.encodeToDir(spark.createDataset(rowsOf(b)), d, cfg)
      Lineage.markBatchReady(spark, d)
    }
    val triggers = scala.collection.mutable.ArrayBuffer.empty[Long]
    val got = scala.collection.mutable.Set.empty[String]
    val q = spark.readStream.format("graft")
      .option("maxBatchesPerTrigger", "2").load(root)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, _: Long) =>
        val ids = df.collect().map(_.getString(0))
        triggers += ids.length.toLong
        got ++= ids; ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    // 5 ready batches, 2 per trigger -> exactly 3 triggers (2+2+1 batches)
    assert(triggers.toSeq == Seq(400L, 400L, 200L),
      s"trigger sizes were ${triggers.toSeq}")
    assert(got.size == 1000)
    // checkpointed resume: a 6th batch arrives, the next run delivers ONLY it
    val d5 = f"$root/batch=${5}%05d"
    Lineage.encodeToDir(spark.createDataset(rowsOf(5)), d5, cfg)
    Lineage.markBatchReady(spark, d5)
    got.clear(); triggers.clear()
    val q2 = spark.readStream.format("graft")
      .option("maxBatchesPerTrigger", "2").load(root)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, _: Long) =>
        got ++= df.collect().map(_.getString(0)); ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q2.awaitTermination(120000)
    assert(got.size == 200 && got.forall(_.startsWith("doc-05")),
      s"incremental catch-up saw ${got.size}")
  }

  test("writeStream.format(graft): epochs land as READY batch dirs, exactly once") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft-sw").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sw-ck").toString
    val in = MemoryStream[SeqRow]
    def run(): Unit = {
      val q = in.toDS().toDF()
        .writeStream.format("graft")
        .option("checkpointLocation", ckpt)
        .option("chunkTokens", "1024")
        .trigger(Trigger.AvailableNow())
        .start(out)
      q.awaitTermination(120000)
      ()
    }
    in.addData(rowsOf(0): _*)
    run()
    // the tree marker went down at stream start, the epoch is READY-marked
    assert(Lineage.isStreamTree(spark, out))
    assert(Lineage.readyBatchDirs(spark, out).size == 1)
    val r1 = spark.read.format("graft").load(out)
    assert(r1.count() == 200L)
    // second run: only the NEW epoch lands (checkpoint resumes), appended
    in.addData(rowsOf(1): _*)
    run()
    assert(Lineage.readyBatchDirs(spark, out).size == 2)
    val r2 = spark.read.format("graft").load(out)
    assert(r2.count() == 400L)
    val ids = r2.select("doc_id").collect().map(_.getString(0)).toSet
    assert(ids == (rowsOf(0) ++ rowsOf(1)).map(_.doc_id).toSet)
    // rows roundtrip bit-identically through the streamed tree
    val back = spark.read.format("graft").load(out).as[SeqRow].collect()
      .map(r => r.doc_id -> r).toMap
    (rowsOf(0) ++ rowsOf(1)).foreach(r =>
      assert(back(r.doc_id).tokens.sameElements(r.tokens)))
  }

  test("stream read honors the containment probe (same semantics as batch)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-sp").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sp-ck").toString
    val cfg = EncoderConfig(chunkTokens = 1 << 10, numPartitions = 1)
    (0 to 1).foreach { b =>
      val d = f"$root/batch=$b%05d"
      Lineage.encodeToDir(spark.createDataset(rowsOf(b)), d, cfg)
      Lineage.markBatchReady(spark, d)
    }
    val got = scala.collection.mutable.Set.empty[String]
    val q = spark.readStream.format("graft")
      .option("containsToken", "1042").load(root) // batch 1, row 42 only
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, _: Long) =>
        got ++= df.collect().map(_.getString(0)); ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(got == Set("doc-01-000042"), s"got $got")
  }

  test("compactTreeToTable: epoch-sized batches become one at-rest table") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-cmp").toString
    val dst = java.nio.file.Files.createTempDirectory("graft-cmp-dst").toString
    val cfg = EncoderConfig(chunkTokens = 1 << 8, numPartitions = 1)
    (0 to 4).foreach { b =>
      val d = f"$root/batch=$b%05d"
      Lineage.encodeToDir(spark.createDataset(rowsOf(b)), d, cfg)
      Lineage.markBatchReady(spark, d)
    }
    // an in-flight batch (no ready marker) must NOT be captured
    Lineage.encodeToDir(spark.createDataset(rowsOf(9)),
      f"$root/batch=${9}%05d", cfg) // written, never readied
    // many tiny per-epoch chunks -> few full-size chunks, rows identical;
    // the input is PINNED at untilBatch=4 (the consumed frontier)
    val parts = Lineage.compactTreeToTable(spark, root, dst,
      EncoderConfig(chunkTokens = 1 << 16, numPartitions = 2), untilBatch = 4L)
    assert(parts == 2L)
    val src = (0 to 4).flatMap(rowsOf(_)).map(r => r.doc_id -> r).toMap
    val got = spark.read.format("graft").load(dst).collect()
      .map(r => (r.getString(0), r.getSeq[Int](1), r.getString(3))).toList
    assert(got.size == 1000)
    got.foreach { case (id, toks, srcCol) =>
      assert(src(id).tokens.toSeq == toks && src(id).source == srcCol)
    }
    val srcChunks = Lineage.readyBatchDirs(spark, root)
      .map(d => Lineage.readManifest(spark, d).count()).sum
    val dstChunks = Lineage.readManifest(spark, dst).count()
    assert(dstChunks < srcChunks,
      s"compaction must shrink chunk count ($srcChunks -> $dstChunks)")
    // the compacted table prunes like any other
    val probe = spark.read.format("graft").load(dst)
      .filter(org.apache.spark.sql.functions.col("doc_id") === "doc-03-000042")
    assert(probe.count() == 1L)
  }

  test("untilBatch time travel: the corpus as of batch n, reproducibly") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-tt").toString
    val cfg = EncoderConfig(chunkTokens = 1 << 10, numPartitions = 1)
    (0 to 2).foreach { b =>
      val d = f"$root/batch=$b%05d"
      Lineage.encodeToDir(spark.createDataset(rowsOf(b)), d, cfg)
      Lineage.markBatchReady(spark, d)
    }
    def asOf(n: Long): Long = spark.read.format("graft")
      .option("untilBatch", n.toString).load(root).count()
    assert(asOf(0) == 200L && asOf(1) == 400L && asOf(2) == 600L)
    // appending batch 3 does NOT change the as-of-1 snapshot
    val d3 = f"$root/batch=${3}%05d"
    Lineage.encodeToDir(spark.createDataset(rowsOf(3)), d3, cfg)
    Lineage.markBatchReady(spark, d3)
    assert(asOf(1) == 400L)
    assert(spark.read.format("graft").load(root).count() == 800L)
  }

  test("an empty untilBatch snapshot answers the manifest-only aggregates " +
      "over zero rows, on the cached and the distributed manifest path") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-tt-empty").toString
    val cfg = EncoderConfig(chunkTokens = 1 << 10, numPartitions = 1)
    (1 to 2).foreach { b =>
      val d = f"$root/batch=$b%05d"
      Lineage.encodeToDir(spark.createDataset(rowsOf(b)), d, cfg)
      Lineage.markBatchReady(spark, d)
    }
    def check(path: String): Unit = {
      spark.read.format("graft").option("untilBatch", "0").load(root)
        .createOrReplaceTempView("graft_tt_empty")
      val g = spark.sql("SELECT count(*), min(doc_id), max(doc_id), " +
        "sum(n_tok) FROM graft_tt_empty")
      assert(g.queryExecution.executedPlan.toString
        .contains("manifest-only aggregate"), s"$path: not pushed")
      val r = g.collect()(0)
      assert(r.getLong(0) == 0L && r.isNullAt(1) && r.isNullAt(2) &&
        r.isNullAt(3), s"$path: $r")
      val bySource = spark.sql(
        "SELECT source, count(*), sum(n_tok) FROM graft_tt_empty GROUP BY source")
      assert(bySource.queryExecution.executedPlan.toString
        .contains("manifest-only grouped aggregate"), s"$path: not pushed")
      assert(bySource.collect().isEmpty, path)
    }
    check("cached")
    spark.conf.set("graft.plan.localManifestBytes", "0")
    try check("distributed")
    finally spark.conf.unset("graft.plan.localManifestBytes")
  }

  test("expireBatchesBelow: retention never breaks a checkpointed reader") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-exp").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-exp-ck").toString
    val cfg = EncoderConfig(chunkTokens = 1 << 10, numPartitions = 1)
    def feed(b: Int, ready: Boolean = true): Unit = {
      val d = f"$root/batch=$b%05d"
      Lineage.encodeToDir(spark.createDataset(rowsOf(b)), d, cfg)
      if (ready) Lineage.markBatchReady(spark, d)
    }
    (0 to 2).foreach(feed(_))
    feed(3, ready = false) // in-flight: retention must never touch it
    val got = scala.collection.mutable.Set.empty[String]
    def drain(): Unit = {
      val q = spark.readStream.format("graft").load(root)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, _: Long) =>
          got ++= df.collect().map(_.getString(0)); ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      ()
    }
    drain() // consumer committed through batch 2
    assert(got.size == 600)
    // expire below the consumer's offset: batches 0-2 go, in-flight 3 stays
    assert(Lineage.expireBatchesBelow(spark, root, 3L) == 3L)
    assert(Lineage.batchDirs(spark, root)
      .map(d => new org.apache.hadoop.fs.Path(d).getName) ==
      Seq("batch=00003"))
    // the checkpointed reader resumes PAST the expired range: readies 3,
    // next drain delivers exactly it — no failure, no re-delivery
    Lineage.markBatchReady(spark, f"$root/batch=${3}%05d")
    got.clear()
    drain()
    assert(got.size == 200 && got.forall(_.startsWith("doc-03")))
    // batch reads of the retained tree see only what remains
    assert(spark.read.format("graft").load(root).count() == 200L)
  }

  test("graft-to-graft streaming copy: exactly-once, incremental, checkpointed") {
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft-cp-src").toString
    val dst = java.nio.file.Files.createTempDirectory("graft-cp-dst").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cp-ck").toString
    val cfg = EncoderConfig(chunkTokens = 1 << 10, numPartitions = 1)
    def feed(b: Int): Unit = {
      val d = f"$src/batch=$b%05d"
      Lineage.encodeToDir(spark.createDataset(rowsOf(b)), d, cfg)
      Lineage.markBatchReady(spark, d)
    }
    def copy(): Unit = {
      val q = spark.readStream.format("graft").load(src)
        .writeStream.format("graft")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start(dst)
      q.awaitTermination(120000)
      ()
    }
    feed(0); feed(1)
    copy()
    assert(spark.read.format("graft").load(dst).count() == 400L)
    // re-running with nothing new must append NOTHING (exactly-once)
    copy()
    assert(spark.read.format("graft").load(dst).count() == 400L)
    // a new source batch flows through incrementally
    feed(2)
    copy()
    val d = spark.read.format("graft").load(dst)
    assert(d.count() == 600L)
    assert(d.select("doc_id").collect().map(_.getString(0)).toSet ==
      (0 to 2).flatMap(rowsOf(_)).map(_.doc_id).toSet)
  }

  test("batch write refuses a batch-TREE root (mirror of the streaming guard)") {
    import spark.implicits._
    val cfg = EncoderConfig(chunkTokens = 1 << 10, numPartitions = 1)
    val df = spark.createDataset(rowsOf(0)).toDF()
    // a tree with a committed batch: a batch write would mkdir _lineage at
    // the ROOT and make every batch=N subdir invisible to batch reads
    val tree = java.nio.file.Files.createTempDirectory("graft-tw").toString
    Lineage.encodeToDir(spark.createDataset(rowsOf(1)),
      f"$tree/batch=${0}%05d", cfg)
    Lineage.markBatchReady(spark, f"$tree/batch=${0}%05d")
    val e1 = intercept[Exception] {
      df.write.format("graft").mode("append").save(tree)
    }
    assert(e1.getMessage.contains("batch TREE"), e1.getMessage)
    // overwrite is refused too: truncate clears the ROOT's table files but
    // not the batch subdirs — the "overwritten" table would resurrect them
    val e2 = intercept[Exception] {
      df.write.format("graft").mode("overwrite").save(tree)
    }
    assert(e2.getMessage.contains("batch TREE"), e2.getMessage)
    // a marker-only root (stream started, no epoch committed yet) is
    // equally a tree
    val marked = java.nio.file.Files.createTempDirectory("graft-tm").toString
    Lineage.markStreamTree(spark, marked)
    val e3 = intercept[Exception] {
      df.write.format("graft").mode("append").save(marked)
    }
    assert(e3.getMessage.contains("batch TREE"), e3.getMessage)
    // the tree is untouched and still reads
    assert(spark.read.format("graft").load(tree).count() == 200L)
  }

  test("an all-empty epoch creates no batch dir (and is never READY-marked)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft-ee").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ee-ck").toString
    val in = MemoryStream[SeqRow]
    def run(pred: String): Unit = {
      val q = in.toDS().toDF().where(pred)
        .writeStream.format("graft")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start(out)
      q.awaitTermination(120000)
      ()
    }
    in.addData(rowsOf(0): _*)
    run("n_tok < 0") // filters every row: the epoch is empty
    assert(Lineage.isStreamTree(spark, out)) // marker still goes down at start
    assert(Lineage.batchDirs(spark, out).isEmpty,
      s"empty epoch left dirs: ${Lineage.batchDirs(spark, out)}")
    assert(Lineage.readyBatchDirs(spark, out).isEmpty)
    // a later NON-empty epoch lands normally in the same tree (the
    // filtered-away epoch-0 rows were legitimately consumed: its offset
    // committed, so only the new rows land)
    in.addData(rowsOf(1): _*)
    run("n_tok >= 0")
    assert(Lineage.readyBatchDirs(spark, out).size == 1)
    assert(spark.read.format("graft").load(out).count() == 200L)
  }

  test("untilBatch refuses a tree containing UNNUMBERED batch dirs") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-un").toString
    val cfg = EncoderConfig(chunkTokens = 1 << 10, numPartitions = 1)
    Lineage.encodeToDir(spark.createDataset(rowsOf(0)),
      f"$root/batch=${0}%05d", cfg)
    // batchDirs qualifies by CONTENT: a manually-placed lineage subdir with
    // a non-batch name is part of the tree but has no snapshot position
    Lineage.encodeToDir(spark.createDataset(rowsOf(1)), s"$root/extra", cfg)
    // the unpinned read composes both dirs (manual layouts are legitimate)
    assert(spark.read.format("graft").load(root).count() == 400L)
    // ... but "as of batch 0" over an unordered dir must fail, not guess
    val e = intercept[Exception] {
      spark.read.format("graft").option("untilBatch", "0").load(root).count()
    }
    assert(e.getMessage.contains("batch number"), e.getMessage)
  }
}
