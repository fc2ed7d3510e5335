package graft.engine

import org.scalatest.funsuite.AnyFunSuite

/** Streaming-sink batch trees (root/batch=N/...) read back as ONE table,
  * with per-batch manifests, shared dictionaries, and pruning intact. */
class BatchTreeSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  test("numeric batch ordering and marker-aware batch-read visibility") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-tree2").toString
    val cfg = EncoderConfig(chunkTokens = 1 << 10, numPartitions = 1)
    def put(name: String, ready: Boolean): Unit = {
      val d = s"$root/$name"
      Lineage.encodeToDir(spark.createDataset((0 until 10).map(i =>
        SeqRow(f"$name-$i%04d", Array(i), 1, "s"))), d, cfg)
      if (ready) Lineage.markBatchReady(spark, d)
    }
    put("batch=9", ready = true)
    put("batch=10", ready = true)
    put("batch=100", ready = false)
    // numeric order (lexicographic would sort 100 between 10 and 9 — the
    // silent duplicate+drop trap for watermark offsets)
    assert(Lineage.batchDirs(spark, root)
      .map(d => new org.apache.hadoop.fs.Path(d).getName) ==
      Seq("batch=9", "batch=10", "batch=100"))
    assert(Lineage.readyBatchDirs(spark, root)
      .map(d => new org.apache.hadoop.fs.Path(d).getName) ==
      Seq("batch=9", "batch=10"))
    // marker-aware tree: batch reads see READY batches only (an in-flight
    // half-written batch is invisible)...
    assert(spark.read.format("graft").load(root).count() == 20L)
    // ...while the in-flight batch itself stays readable as a plain dir
    assert(spark.read.format("graft").load(s"$root/batch=100").count() == 10L)
  }

  test("batch tree decodes as one dataset; pruned variants compose") {
    import org.apache.spark.sql.functions.{array_contains, col}
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-tree").toString
    val cfg = EncoderConfig(chunkTokens = 1 << 10, numPartitions = 2)
    def rows(batch: Int): Seq[SeqRow] = (0 until 400).map { i =>
      val tok = batch * 100000 + i // disjoint token bands per batch
      SeqRow(f"doc-$batch%02d-$i%08d", Array(tok, tok + 7), 2, "s")
    }
    val all = (0 until 3).flatMap(rows)
    (0 until 3).foreach { b =>
      Lineage.encodeToDir(spark.createDataset(rows(b)),
        f"$root/batch=$b%05d", cfg)
    }
    assert(Lineage.batchDirs(spark, root).size == 3)
    // whole-tree decode = union of the batches, bit-identical
    def tree = spark.read.format("graft").load(root).as[SeqRow]
    val back = tree.collect().map(r => r.doc_id -> r).toMap
    assert(back.size == all.size)
    all.foreach(r => assert(back(r.doc_id).tokens.sameElements(r.tokens)))
    // containment probe: token band 1 lives only in batch 1
    val probe = 100000 + 42
    val hit = tree.filter(array_contains(col("tokens"), probe)).collect()
    // rows 42 (first token) and 35 (second token, 100035+7) both hold it
    assert(hit.map(_.doc_id).sorted.toSeq ==
      Seq("doc-01-00000035", "doc-01-00000042"))
    // doc_id range across the tree
    val ranged = tree.filter(col("doc_id") >= "doc-02-00000010" &&
      col("doc_id") <= "doc-02-00000014").collect()
    assert(ranged.map(_.doc_id).sorted.toSeq ==
      (10 to 14).map(i => f"doc-02-$i%08d"))
    // a missing root is LOUD, not an empty tree
    intercept[IllegalArgumentException] {
      spark.read.format("graft").load(s"$root/nope").count()
    }
    assert(tree.select("doc_id", "tokens").queryExecution.toRdd.count() ==
      all.size.toLong)
    // one load over all batches, zone-map pruning still per batch manifest
    val df = spark.read.format("graft").load(root)
    assert(df.count() == all.size.toLong)
    val one = df.filter(org.apache.spark.sql.functions.col("doc_id") ===
      "doc-02-00000007")
    assert(one.rdd.getNumPartitions < df.rdd.getNumPartitions)
    assert(one.collect().map(_.getString(0)).toSeq == Seq("doc-02-00000007"))
  }
}
