package graft.codec

import org.scalatest.funsuite.AnyFunSuite
import graft.GenChecks

/** `Fsst.encode` writes only modes 0, 4, 6 and 8, but persisted chunks and
  * stored `compress_text` values may hold any mode an earlier encoder wrote.
  * Each legacy frame here is built from the primitives that remain (the
  * trainer, the table coder, the entropy and token coders, the word model)
  * and must decode, fail its CRC under a flipped byte and fail typed when
  * truncated. */
class FsstLegacyModeSpec extends AnyFunSuite with GenChecks {
  import FsstFixtures._

  private val text = markovText(3000, 40, seed = 13L)

  /** [u8 nSymbols][per symbol: u8 len, bytes] — the inline table of modes
    * 1, 2, 3 and 5. */
  private def inlineTable(t: Fsst.SymbolTable): Array[Byte] =
    (t.symbols.length.toByte +: t.symbols.flatMap(s => s.length.toByte +: s))

  private def legacyPayload(mode: Int, data: Array[Byte]): Array[Byte] =
    mode match {
      case 1 | 2 | 3 | 5 =>
        val table = Fsst.train(data)
        val codes = Fsst.compressWith(table, data)
        val stream = mode match {
          case 1 => codes
          case 2 => TokenCodec.encodeAutoFlat(codes.map(_ & 0xff))
          case 3 => Huffman.encode(codes)
          case _ => Huffman.encode(codes, Huffman.Order1)
        }
        inlineTable(table) ++ stream
      case 7 =>
        val (entries, ids) = WordModel.tokenize(data)
        val dictFrame = Fsst.encode(WordModel.packDict(entries))
        assert(dictFrame(2) != 7 && dictFrame(2) != 8, "nested word model")
        val len = new java.io.ByteArrayOutputStream()
        Varint.write(len, dictFrame.length.toLong)
        len.toByteArray ++ dictFrame ++ TokenCodec.encodeAutoFlat(ids)
      case 9 => Huffman.encode(data, Huffman.Order1Full)
    }

  for (mode <- Seq(1, 2, 3, 5, 7, 9))
    test(s"legacy mode $mode decodes, fails its CRC and fails typed when cut") {
      val enc = frame(mode, text.length.toLong, legacyPayload(mode, text))
      assert(Fsst.decode(enc).sameElements(text))
      Seq(3, enc.length / 2, enc.length - 5).foreach { p =>
        val bad = enc.clone()
        bad(p) = (bad(p) ^ 0x41).toByte
        val e = intercept[CorruptException](Fsst.decode(bad))
        assert(e.getMessage.contains("crc"), s"byte $p: ${e.getMessage}")
      }
      Seq(0, 3, 6, enc.length / 2, enc.length - 1).foreach { cut =>
        val r = try { Fsst.decode(java.util.Arrays.copyOf(enc, cut)); "decoded" }
        catch {
          case TruncatedException   => "truncated"
          case _: CorruptException  => "corrupt"
        }
        assert(r != "decoded", s"cut at $cut")
      }
    }

  test("the encoder writes only modes 0, 4, 6 and 8, and every frame roundtrips") {
    def check(data: Array[Byte]): Unit = {
      val enc = Fsst.encode(data)
      assert(Set(0, 4, 6, 8).contains(enc(2).toInt),
        s"${data.length} bytes: mode ${enc(2)}")
      assert(Fsst.decode(enc).sameElements(data), s"${data.length} bytes")
    }
    // WordModelSpec's inputs
    Seq((8000, 40, 7L), (12000, 900, 11L), (3000, 30, 3L), (6000, 40, 5L))
      .foreach { case (n, v, s) => check(markovText(n, v, s)) }
    (0 until 20).foreach { t =>
      val n = 1 + (mix(t).toInt & 0x3ff)
      check(Array.tabulate(n)(i => (mix(t * 1009L + i) & 0xff).toByte))
    }
    // HuffmanAdversarialSpec's markov source
    check(markovBytes(100000, seed = 3L))
    // FsstSpec's inputs
    forAll(byteStrings)(check)
    check(idLike(2000))
    check("the quick brown fox jumps over the lazy dog".getBytes)
    check(wordText(4000, seed = 9L))
    // ingest-shaped doc_id sections: front-coded runs of Corpus ids
    Seq((0L, 1), (0L, 16), (0L, 1000), (1000L, 1500), (123456L, 2000),
      (9999000L, 3000)).foreach { case (first, n) => check(frontCodedIds(first, n)) }
  }
}
