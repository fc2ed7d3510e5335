package graft.codec

import org.scalatest.funsuite.AnyFunSuite

/** Word-level text model (Fsst modes 7/8) + the full-context order-1 coder
  * (`Huffman` with shift 0, mode 9 / mode-8 id stage): roundtrip, mode selection,
  * and hostile-input behavior. */
class WordModelSpec extends AnyFunSuite {
  import FsstFixtures.{markovText, mix}

  test("word-model modes win on word-structured text and roundtrip exactly") {
    val data = markovText(8000, 40, seed = 7L)
    val enc = Fsst.encode(data)
    assert(enc(2) == 7 || enc(2) == 8, s"mode ${enc(2)} selected")
    assert(java.util.Arrays.equals(Fsst.decode(enc), data))
    // the point of the model: beats the byte-context stack by a wide margin
    assert(enc.length < data.length / 5,
      s"ratio ${enc.length.toDouble / data.length}")
  }

  test("vocab > 256 writes no word mode and roundtrips") {
    val data = markovText(12000, 900, seed = 11L)
    val enc = Fsst.encode(data)
    assert(java.util.Arrays.equals(Fsst.decode(enc), data))
    // mode 8 codes ids as bytes, and the encoder writes no mode 7
    assert(enc(2) != 7 && enc(2) != 8, s"mode ${enc(2)} selected")
  }

  test("tokenize is lossless on arbitrary byte mixes") {
    (0 until 20).foreach { t =>
      val n = 1 + (mix(t).toInt & 0x3ff)
      val data = Array.tabulate(n)(i => (mix(t * 1009L + i) & 0xff).toByte)
      val (entries, ids) = WordModel.tokenize(data)
      val back = ids.flatMap(entries(_))
      assert(back.sameElements(data), s"trial $t")
      // classes alternate: adjacent runs never merge
      assert(WordModel.unpackDict(WordModel.packDict(entries))
        .zip(entries).forall { case (a, b) => a.sameElements(b) })
    }
  }

  test("full order-1 Huffman roundtrips and rejects hostile input") {
    val data = markovText(3000, 30, seed = 3L)
    val enc = Huffman.encode(data, Huffman.Order1Full)
    assert(java.util.Arrays.equals(
      Huffman.decode(enc, 0, enc.length, Huffman.Order1Full), data))
    // truncations: never a crash or silent wrong answer, always the taxonomy
    Seq(1, 16, 33, enc.length / 2).foreach { keep =>
      intercept[Exception] {
        val out = Huffman.decode(enc, 0, keep, Huffman.Order1Full)
        assert(!java.util.Arrays.equals(out, data))
        throw TruncatedException // count "shorter but decoded" as handled
      }
    }
  }

  test("corrupted word-model frames fail closed (CRC or taxonomy)") {
    val data = markovText(6000, 40, seed = 5L)
    val enc = Fsst.encode(data)
    assert(enc(2) == 7 || enc(2) == 8)
    // flip one byte at a spread of positions: CRC must catch every one
    Seq(3, enc.length / 4, enc.length / 2, enc.length - 5).foreach { p =>
      val bad = enc.clone()
      bad(p) = (bad(p) ^ 0x41).toByte
      intercept[Exception](Fsst.decode(bad))
    }
    // truncation
    intercept[Exception](Fsst.decode(java.util.Arrays.copyOf(enc, enc.length / 2)))
  }
}
