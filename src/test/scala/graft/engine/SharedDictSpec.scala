package graft.engine

import org.scalatest.funsuite.AnyFunSuite

/** The table-level shared meta dictionary (the reference's cross-stream
  * stateful mode, recast at the storage layer): one FSST table per lineage
  * dir, trained once, coded against by every chunk's doc_id section. */
class SharedDictSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  private def mkRows(n: Int): Seq[SeqRow] = (0 until n).map { i =>
    SeqRow(f"doc-$i%012d", Array.tabulate(20)(t => (i * 31 + t) % 50000), 20,
      if (i % 10 == 0) "books" else "web")
  }

  test("lineage publishes one dict; roundtrip + resume + smaller meta") {
    import spark.implicits._
    val rows = mkRows(2000)
    val ds = spark.createDataset(rows)
    val dir = java.nio.file.Files.createTempDirectory("graft-shared").toString
    val cfg = EncoderConfig(chunkTokens = 1 << 12, numPartitions = 4)
    assert(Lineage.encodeToDir(ds, dir, cfg) == 4L)
    assert(new java.io.File(s"$dir/_lineage/_shared_dict.bin").exists(),
      "shared dict not published")
    // bit-identical roundtrip through the shared-coded sections
    val back = spark.read.format("graft").load(dir).as[SeqRow].collect()
      .map(r => r.doc_id -> r).toMap
    assert(back.size == rows.size)
    rows.foreach { r =>
      assert(back(r.doc_id).tokens.sameElements(r.tokens))
      assert(back(r.doc_id).source == r.source)
    }
    // resume still skips every committed partition
    assert(Lineage.encodeToDir(ds, dir, cfg) == 0L)
    // the shared table beats self-contained chunk encoding on total bytes:
    // same cfg => same chunk membership => same payload, so enc_bytes sums
    // compare exactly the meta sections
    val sharedBytes = Lineage.readManifest(spark, dir).collect()
      .map(_.enc_bytes).sum
    val inlineBytes = Encoder.encodeTable(ds, cfg).collect()
      .map(_.enc_bytes).sum
    assert(sharedBytes < inlineBytes,
      s"shared-dict coding did not win: $sharedBytes vs inline $inlineBytes")
  }

  test("dict training is deterministic: two fresh dirs, identical bytes") {
    import spark.implicits._
    val ds = spark.createDataset(mkRows(800))
    val cfg = EncoderConfig(chunkTokens = 1 << 12, numPartitions = 3)
    def encode(): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft-shared-d").toString
      Lineage.encodeToDir(ds, dir, cfg)
      dir
    }
    val (a, b) = (encode(), encode())
    def bytesOf(dir: String, rel: String): Array[Byte] =
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, rel))
    assert(java.util.Arrays.equals(
      bytesOf(a, "_lineage/_shared_dict.bin"), bytesOf(b, "_lineage/_shared_dict.bin")))
    (0 until 3).foreach { p =>
      val rel = f"data/part-$p%05d.graft"
      assert(java.util.Arrays.equals(bytesOf(a, rel), bytesOf(b, rel)),
        s"partition $p data bytes differ across identical runs")
    }
  }

  test("a shared-coded chunk opened WITHOUT its table fails typed and loud") {
    import spark.implicits._
    val ds = spark.createDataset(mkRows(1500))
    val dir = java.nio.file.Files.createTempDirectory("graft-shared-t").toString
    val cfg = EncoderConfig(chunkTokens = 1 << 12, numPartitions = 2)
    Lineage.encodeToDir(ds, dir, cfg)
    val manifest = Lineage.readManifest(spark, dir).collect()
    val chunks = manifest.map { m =>
      val path = java.nio.file.Paths.get(dir, f"data/part-${m.part_id}%05d.graft")
      val all = java.nio.file.Files.readAllBytes(path)
      Lineage.unframeChunk(
        java.util.Arrays.copyOfRange(all, m.offset.toInt,
          (m.offset + m.length).toInt), m)
    }
    val failures = chunks.count { c =>
      try { ChunkBuilder.open(c).length; false }
      catch { case e: graft.codec.CorruptException =>
        e.getMessage.contains("shared-dict") }
    }
    assert(failures > 0,
      "no chunk used the shared table — the dict path is not exercised")
    // and WITH the table every chunk opens
    val table = MetaDict.fromBytes(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, "_lineage/_shared_dict.bin")))
    assert(chunks.map(c => ChunkBuilder.open(c, table).length).sum == 1500)
  }

  test("decoding against the WRONG dictionary fails typed (fingerprint)") {
    val ids = Array.tabulate(300)(i => f"doc-$i%012d")
    val toks = Array.tabulate(300 * 10)(i => i % 50000)
    val dictA = MetaDict.train(ChunkBuilder.packStringsFront(ids))
    val dictB = MetaDict.train(ChunkBuilder.packStringsFront(
      Array.tabulate(300)(i => f"row#${i * 977}%09x")))
    val chunk = ChunkBuilder.build(0, 0, ids, Array.fill(300)("s"), toks,
      Array.fill(300)(10), dictA)
    assert(ChunkBuilder.open(chunk, dictA).length == 300)
    // frame CRC passes (the frame is intact) — the dictionary PAIRING is
    // what the fingerprint catches; silent wrong doc_ids would be the
    // worst possible failure mode
    val e = intercept[graft.codec.CorruptException] {
      ChunkBuilder.open(chunk, dictB).toArray
    }
    assert(e.getMessage.contains("fingerprint"), e.getMessage)
  }

  test("pre-r4 dirs (no dict file) still decode: legacy flat doc_id blobs") {
    // build a chunk the OLD way: flat packStrings section D, no shared table
    val ids = Array.tabulate(40)(i => f"doc-$i%012d")
    val legacyD = graft.codec.Fsst.encode(ChunkBuilder.packStrings(ids))
    assert(ChunkBuilder.unpackStringsAuto(
      graft.codec.Fsst.decode(legacyD)).sameElements(ids))
  }
}
