package graft

import org.scalatest.funsuite.AnyFunSuite

/** Text one-shot compression ratio over the driver documents (the
  * decompress_str analog's quality metric; reference PPMd hits ~0.153 on
  * its text fixture). The word model (Fsst mode 8) is kept for exactly
  * this shape: without it the concatenated documents code about 3x larger. */
class TextRatioSpec extends AnyFunSuite {
  private lazy val texts =
    SparkTestSession.spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select("text").collect().map(_.getString(0))

  test("concatenated documents code as the word model, below PPMd's ratio") {
    val all = texts.mkString("\n").getBytes("UTF-8")
    val enc = graft.codec.Fsst.encode(all)
    assert(enc(2) == 8, s"mode ${enc(2)}")
    val ratio = enc.length.toDouble / all.length
    assert(ratio < 0.153, f"concat raw=${all.length} enc=${enc.length} ratio=$ratio%.4f")
    assert(graft.codec.Fsst.decode(enc).sameElements(all))
  }

  test("one shared table codes the documents one by one below 0.2") {
    // doc_compress_shared's ratio: one table trained on a sample, each doc
    // coded table-free against it
    val table = graft.codec.Fsst.train(
      texts.grouped(10).map(_.head).mkString("\n").getBytes("UTF-8"))
    val raw = texts.map(_.getBytes("UTF-8").length.toLong).sum
    val encShared = texts.map(t =>
      graft.codec.Fsst.compressWith(table, t.getBytes("UTF-8")).length.toLong).sum
    val ratio = encShared.toDouble / raw
    assert(ratio < 0.2, f"shared-dict per-doc raw=$raw enc=$encShared ratio=$ratio%.4f")
  }
}
