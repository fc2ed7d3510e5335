package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import graft.GenChecks

/** Property fuzz of the full chunk assembly path — the hypothesis layer of
  * the reference suite (test_fuzzer.py:15-60) recast: adversarial strings
  * (unicode, quotes, control chars) through FSST + manifest JSON, hostile
  * token shapes including zero-length rows. */
class ChunkBuilderFuzzSpec extends AnyFunSuite with GenChecks {

  private val genDocId: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr.map("doc-" + _),
    // arbitrary valid unicode: lone surrogates are unrepresentable in UTF-8
    // (Spark's UTF8String/Parquet have the same contract), so exclude the
    // surrogate range — everything else must roundtrip
    Gen.listOf(Gen.choose(Char.MinValue, Char.MaxValue)
      .suchThat(c => !Character.isSurrogate(c))).map(_.mkString),
    Gen.const("""quo"te\back\slash"""),
    Gen.const("new\nline\ttab\rcr"),
    Gen.const(""),
    Gen.const("日本語のドキュメント-∞-😀"))

  private val genTokens: Gen[Array[Int]] = Gen.oneOf(
    Gen.const(Array.emptyIntArray), // zero-length rows must survive
    Gen.listOf(Gen.choose(-1000, 1000)).map(_.toArray),
    Gen.listOfN(600, Gen.choose(0, 50256)).map(_.toArray),
    Gen.const(Array(Int.MinValue, Int.MaxValue, 0)))

  private val genRows: Gen[List[SeqRow]] = Gen.nonEmptyListOf(for {
    id <- genDocId
    toks <- genTokens
    src <- Gen.oneOf("web", "", "sp ace", "uni∂code")
  } yield SeqRow(id, toks, toks.length, src))

  test("build/open roundtrips arbitrary rows bit-identically") {
    forAll(genRows, trials = 60) { rows =>
      val chunk = ChunkBuilder.build(3, 9, rows.map(_.doc_id).toArray,
        rows.map(_.source).toArray, rows.flatMap(_.tokens).toArray,
        rows.map(_.n_tok).toArray)
      val back = ChunkBuilder.open(chunk).toList
      assert(back.length == rows.length)
      back.zip(rows).foreach { case (b, o) =>
        assert(b.doc_id == o.doc_id)
        assert(b.source == o.source)
        assert(b.n_tok == o.n_tok)
        assert(b.tokens.sameElements(o.tokens))
      }
    }
  }

  test("openColumns agrees with open on arbitrary rows (flat == sliced)") {
    forAll(genRows, trials = 40) { rows =>
      val chunk = ChunkBuilder.build(3, 9, rows.map(_.doc_id).toArray,
        rows.map(_.source).toArray, rows.flatMap(_.tokens).toArray,
        rows.map(_.n_tok).toArray)
      val cols = ChunkBuilder.openColumns(chunk, null, withTokens = true,
        withDocIds = true)
      assert(cols.nRows == rows.length)
      var off = 0
      rows.zipWithIndex.foreach { case (o, i) =>
        assert(cols.docIds(i) == o.doc_id)
        assert(cols.srcDict(cols.srcIdx(i)) == o.source)
        assert(cols.rowLens(i) == o.n_tok)
        assert(java.util.Arrays.equals(
          java.util.Arrays.copyOfRange(cols.tokens, off, off + o.n_tok),
          o.tokens))
        off += o.n_tok
      }
      assert(off == cols.tokens.length)
      // payload-free and docid-free variants leave those sections null
      val meta = ChunkBuilder.openColumns(chunk, null, withTokens = false,
        withDocIds = false)
      assert(meta.tokens == null && meta.docIds == null)
      assert(meta.rowLens.toSeq == cols.rowLens.toSeq)
    }
  }

  test("openColumns fails TYPED on corrupted chunks, never wrong columns") {
    val rows = (0 until 50).map(i =>
      SeqRow(f"doc-$i%04d", Array.tabulate(20)(t => i * 31 + t), 20, "s"))
    val chunk = ChunkBuilder.build(0, 0, rows.map(_.doc_id).toArray,
      rows.map(_.source).toArray, rows.flatMap(_.tokens).toArray,
      rows.map(_.n_tok).toArray)
    val rng = new scala.util.Random(99)
    (0 until 200).foreach { _ =>
      val evilMeta = chunk.meta.clone()
      val at = rng.nextInt(evilMeta.length)
      evilMeta(at) = (evilMeta(at) ^ (1 << rng.nextInt(8))).toByte
      val evil = chunk.copy(meta = evilMeta)
      try {
        val c = ChunkBuilder.openColumns(evil, null, withTokens = true,
          withDocIds = true)
        // a flip the CRC caught? then we never get here; if decode DID
        // succeed the flip must have been in dead framing bytes and EVERY
        // column must still be exactly right — ids, sources, lens, tokens
        assert(c.nRows == 50 && c.tokens.length == 1000)
        (0 until 50).foreach { i =>
          assert(c.docIds(i) == f"doc-$i%04d")
          assert(c.srcDict(c.srcIdx(i)) == "s")
          assert(c.rowLens(i) == 20)
          (0 until 20).foreach(t =>
            assert(c.tokens(i * 20 + t) == i * 31 + t))
        }
      } catch {
        case _: graft.codec.CorruptException    => () // typed: ok
        case _: graft.codec.TruncatedException.type => () // typed: ok
      }
    }
  }

  test("lineage survives hostile doc_ids end-to-end (manifest JSON escaping)") {
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    val rows = Seq(
      SeqRow("""quo"te\back""", Array(1, 2, 3), 3, "web"),
      SeqRow("new\nline", Array(9), 1, "w\"eb"),
      SeqRow("日本語-😀", Array(0, 0, 0, 0), 4, "uni"),
      SeqRow("", Array(7, 7), 2, ""))
    val dir = java.nio.file.Files.createTempDirectory("graft-fuzz").toString
    Lineage.encodeToDir(spark.createDataset(rows), dir,
      EncoderConfig(numPartitions = 1))
    val back = spark.read.format("graft").load(dir).as[SeqRow].collect()
      .map(r => r.doc_id -> r).toMap
    assert(back.size == rows.length)
    rows.foreach { o =>
      val b = back(o.doc_id)
      assert(b.tokens.sameElements(o.tokens) && b.source == o.source)
    }
  }
}
