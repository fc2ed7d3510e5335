package graft.codec

import org.scalatest.funsuite.AnyFunSuite
import graft.GenChecks
import org.scalacheck.Gen

/** Codec-layer tests — recast of the reference suite (SURVEY.md §5):
  * roundtrip identity (test_ppmd7.py:56-92), golden exact-bytes regression
  * (test_ppmd7.py:10-19), property fuzz (test_fuzzer.py), corrupt/truncated
  * error taxonomy (ThreadDecoder.h:16-17). */
class TokenCodecSpec extends AnyFunSuite with GenChecks {

  private val V = 50257 // vocab size per FIXTURES.md

  // archetype generators mirroring FIXTURES.md §A
  private val genConstant: Gen[Array[Int]] = for {
    n <- Gen.choose(1, 2048); v <- Gen.choose(0, V - 1)
  } yield Array.fill(n)(v)

  private val genRunny: Gen[Array[Int]] = for {
    nRuns <- Gen.choose(1, 64)
    runs <- Gen.listOfN(nRuns, for {
      v <- Gen.choose(0, 99); len <- Gen.choose(1, 64)
    } yield Array.fill(len)(v))
  } yield runs.toArray.flatten

  private val genNarrow: Gen[Array[Int]] = for {
    n <- Gen.choose(1, 2048); base <- Gen.choose(0, V - 1100)
    vals <- Gen.listOfN(n, Gen.choose(base, base + 1023))
  } yield vals.toArray

  private val genFullRange: Gen[Array[Int]] = for {
    n <- Gen.choose(1, 1024)
    vals <- Gen.listOfN(n, Gen.choose(Int.MinValue, Int.MaxValue))
  } yield vals.toArray

  private val genSorted: Gen[Array[Int]] =
    genNarrow.map(a => { java.util.Arrays.sort(a); a })

  private val genAny: Gen[Array[Int]] = Gen.oneOf(
    genConstant, genRunny, genNarrow, genFullRange, genSorted,
    Gen.const(Array.emptyIntArray), Gen.const(Array(0)),
    Gen.const(Array(V - 1)), Gen.const(Array(Int.MinValue, Int.MaxValue)))

  test("roundtrip identity for every codec on every archetype") {
    forAll(genAny) { (v: Array[Int]) =>
      val stats = ChunkStats.analyze(v)
      for (codec <- CodecId.all if stats.payloadSize(codec) != Int.MaxValue) {
        val enc = TokenCodec.encode(codec, v, stats)
        TokenCodec.decode(enc) match {
          case Decoded(out) =>
            assert(out.sameElements(v), s"codec ${CodecId.name(codec)}")
          case other => fail(s"${CodecId.name(codec)}: $other")
        }
      }
    }
  }

  test("auto-selected encode roundtrips and never exceeds raw size") {
    forAll(genAny) { (v: Array[Int]) =>
      val enc = TokenCodec.encodeAuto(v)
      assert(enc.length <= TokenCodec.Overhead + 4 * v.length)
      assert(TokenCodec.decodeOrThrow(enc).sameElements(v))
    }
  }

  test("selector picks the expected codec per archetype") {
    val runny = Array.tabulate(4096)(i => (i / 37) % 7)
    assert(ChunkStats.analyze(runny).bestCodec == CodecId.Rle)
    val narrow = Array.tabulate(4096)(i => 40000 + (i * 2654435761L % 256).toInt)
    assert(ChunkStats.analyze(narrow).bestCodec == CodecId.BitPack)
    val sorted = Array.tabulate(4096)(i => i * 3)
    assert(ChunkStats.analyze(sorted).bestCodec == CodecId.Delta)
    // sparse large values, few distinct -> dict
    val dicty = Array.tabulate(4096)(i => Array(7, 1 << 30, -5, 999999)(
      (i * 2654435761L % 4).toInt))
    assert(ChunkStats.analyze(dicty).bestCodec == CodecId.Dict)
  }

  test("size model is exact (encode length == predicted + overhead)") {
    forAll(genAny) { (v: Array[Int]) =>
      val stats = ChunkStats.analyze(v)
      for (codec <- CodecId.all if stats.payloadSize(codec) != Int.MaxValue) {
        val enc = TokenCodec.encode(codec, v, stats)
        assert(enc.length == TokenCodec.Overhead + stats.payloadSize(codec))
      }
    }
  }

  test("golden exact-bytes regression (analog of test_ppmd7.py:10-19)") {
    // Fixed vector; any framing change must consciously update these.
    val v = Array(5, 5, 5, 9, 9, 1, 50256, 0, 0, 0)
    val enc = TokenCodec.encodeAuto(v)
    val hex = enc.map(b => f"${b & 0xff}%02x").mkString
    assert(ChunkStats.analyze(v).bestCodec == CodecId.Rle)
    assert(hex == "4754020a0000000a0212010200a091060000026c4d7698")
  }

  test("truncated payload yields Truncated, not wrong data") {
    forAll(genAny.suchThat(_.length > 0)) { (v: Array[Int]) =>
      val enc = TokenCodec.encodeAuto(v)
      val cut = java.util.Arrays.copyOf(enc, enc.length - 5)
      assert(TokenCodec.decode(cut) != Decoded(v))
      TokenCodec.decode(cut) match {
        case Truncated | Corrupt(_) => ()
        case Decoded(out) => assert(!out.sameElements(v))
      }
    }
  }

  test("single flipped byte yields Corrupt (crc), analog of decode result -2") {
    forAll2(genAny.suchThat(_.length > 2), Gen.choose(0, 1000)) {
      (v: Array[Int], seed: Int) =>
        val enc = TokenCodec.encodeAuto(v)
        val pos = seed % enc.length
        enc(pos) = (enc(pos) ^ 0x5a).toByte
        TokenCodec.decode(enc) match {
          case Corrupt(_) => ()
          case other => fail(s"flip at $pos -> $other")
        }
    }
    // twelve garbage bytes carry no magic at all
    assert(TokenCodec.decode(Array.tabulate[Byte](12)(i => (i + 1).toByte)) ==
      Corrupt("bad magic"))
  }

  test("dict overflow (card > 65536) downgrades away from dict") {
    val v = Array.tabulate(70000)(i => i * 31) // 70k distinct
    val stats = ChunkStats.analyze(v)
    assert(stats.card == -1)
    assert(stats.dictPayload == Int.MaxValue)
    assert(stats.bestCodec != CodecId.Dict)
    assert(TokenCodec.decodeOrThrow(TokenCodec.encodeAuto(v)).sameElements(v))
  }

  test("bitpack handles full 32-bit range") {
    val v = Array(Int.MinValue, Int.MaxValue, 0, -1, 1)
    val stats = ChunkStats.analyze(v)
    assert(stats.forWidth == 32)
    val enc = TokenCodec.encode(CodecId.BitPack, v, stats)
    assert(TokenCodec.decodeOrThrow(enc).sameElements(v))
  }
}

class FsstSpec extends AnyFunSuite with GenChecks {
  test("fsst roundtrips arbitrary byte strings") {
    forAll(FsstFixtures.byteStrings) { (data: Array[Byte]) =>
      assert(Fsst.decode(Fsst.encode(data)).sameElements(data))
    }
  }

  test("fsst compresses repetitive id-like strings well") {
    val data = FsstFixtures.idLike(2000)
    val enc = Fsst.encode(data)
    assert(enc.length < data.length / 2, s"${enc.length} vs ${data.length}")
    assert(Fsst.decode(enc).sameElements(data))
  }

  test("fsst corrupt byte detected by crc") {
    val data = "the quick brown fox jumps over the lazy dog".getBytes
    val enc = Fsst.encode(data)
    enc(enc.length / 2) = (enc(enc.length / 2) ^ 1).toByte
    intercept[Exception](Fsst.decode(enc))
  }

  test("hpack entropy wrap shrinks zipf-ish chunks and roundtrips") {
    // zipf-ish tokens: varint leaves a skewed byte stream behind
    val rng = new graft.io.Corpus.Rng(11L)
    val v = Array.fill(65536)(math.min(50256,
      (math.pow(2.0, rng.nextInt(16).toDouble) - 1).toInt))
    val enc = TokenCodec.encodeAuto(v)
    val dec = TokenCodec.decodeOrThrow(enc)
    assert(dec.sameElements(v))
    if (enc(2) == CodecId.HPack) {
      // the wrap must only ever be chosen when strictly smaller
      val stats = ChunkStats.analyze(v)
      assert(enc.length <
        stats.payloadSize(stats.bestCodec) + TokenCodec.Overhead)
    }
    // corrupt wrap byte -> Corrupt, truncated -> Truncated/Corrupt
    val bad = enc.clone()
    bad(enc.length / 2) = (bad(enc.length / 2) ^ 0x5a).toByte
    assert(TokenCodec.decode(bad).isInstanceOf[Corrupt])
  }

  test("an entropy/word stage wins on text and roundtrips") {
    val text = FsstFixtures.wordText(4000, seed = 9L)
    val enc = Fsst.encode(text)
    // an entropy-coded mode must win over plain FSST/raw on text; since r3
    // the word model (7/8) usually beats the byte-context stack (3/5/6/9)
    assert(Set(3, 5, 6, 7, 8, 9).contains(enc(2).toInt),
      s"expected an entropy/word mode, got mode ${enc(2)}")
    assert(enc.length < text.length / 4, s"${enc.length} vs ${text.length}")
    assert(Fsst.decode(enc).sameElements(text))
  }
}

class HuffmanSpec extends AnyFunSuite with GenChecks {
  test("huffman block roundtrips arbitrary byte strings") {
    forAll(Gen.oneOf(
      Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray),
      Gen.listOf(Gen.oneOf('x'.toByte, 'y'.toByte)).map(_.toArray),
      Gen.const(Array.fill(5000)('z'.toByte)),
      Gen.const(Array.emptyByteArray))) { (data: Array[Byte]) =>
      val enc = Huffman.encode(data)
      assert(Huffman.decode(enc, 0, enc.length).sameElements(data))
    }
  }

  test("huffman approaches the order-0 entropy bound on skewed data") {
    // 90/10 two-symbol source: H ~= 0.469 bits/sym; huffman floor is 1
    val rng = new graft.io.Corpus.Rng(7L)
    val data = Array.fill(20000)(
      if (rng.nextInt(10) == 0) 'b'.toByte else 'a'.toByte)
    val enc = Huffman.encode(data)
    // 1 bit/symbol + 130-byte header
    assert(enc.length <= data.length / 8 + 140, s"${enc.length}")
    assert(Huffman.decode(enc, 0, enc.length).sameElements(data))
  }

  test("huffman truncated block is Truncated, garbage lengths are Corrupt") {
    val data = "abcabcabcaabbcc".getBytes
    val enc = Huffman.encode(data)
    intercept[Exception](Huffman.decode(enc, 0, enc.length - 1))
  }
}
