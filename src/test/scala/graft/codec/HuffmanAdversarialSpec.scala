package graft.codec

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import graft.GenChecks

/** Adversarial complement to HuffmanSpec (TokenCodecSpec.scala): the kernel
  * is load-bearing for every hpack'd chunk and FSST mode-4 block, and the
  * frame-level CRC only screens corruption on the TokenCodec path — these
  * pin its behavior standing alone under truncation and bit damage. */
class HuffmanAdversarialSpec extends AnyFunSuite with GenChecks {

  private val model =
    Huffman.modelTables(Huffman.trainModel(FsstFixtures.frontCodedIds(0L, 500)))

  /** Each model as (name, encode, decode of the bytes before `until` back to
    * `n` symbols): order-0, order-1, full order-1 and the shared-model
    * bitstream, whose count the caller's envelope carries. */
  private val coders: Seq[(String, Array[Byte] => Array[Byte],
                           (Array[Byte], Int, Int) => Array[Byte])] = Seq(
    ("order-0", Huffman.encode(_), (b, until, _) => Huffman.decode(b, 0, until)),
    ("order-1", Huffman.encode(_, Huffman.Order1),
      (b, until, _) => Huffman.decode(b, 0, until, Huffman.Order1)),
    ("full order-1", Huffman.encode(_, Huffman.Order1Full),
      (b, until, _) => Huffman.decode(b, 0, until, Huffman.Order1Full)),
    ("shared model", Huffman.encodeBitsWithModel(model, _),
      (b, until, n) => Huffman.decodeBits(model, b, 0, until, n)))

  test("order-1 kernel roundtrips arbitrary byte strings") {
    forAll(Gen.oneOf(
      Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray),
      Gen.listOf(Gen.oneOf('x'.toByte, 'y'.toByte, ' '.toByte)).map(_.toArray),
      Gen.const(Array.fill(3000)('q'.toByte)),
      Gen.const(Array.emptyByteArray)), trials = 120) { (data: Array[Byte]) =>
      val enc = Huffman.encode(data, Huffman.Order1)
      assert(Huffman.decode(enc, 0, enc.length, Huffman.Order1).sameElements(data))
    }
  }

  test("order-1 stage (fsst mode 6) wins on a markov source and roundtrips") {
    val data = FsstFixtures.markovBytes(100000, seed = 3L)
    val enc = Fsst.encode(data)
    // the order-1 mode over the raw bytes must win
    assert(enc(2) == 6, s"mode=${enc(2)}")
    assert(enc.length < Huffman.encode(data).length) // beats order-0
    assert(Fsst.decode(enc).sameElements(data))
    val bad = enc.clone()
    bad(enc.length / 2) = (bad(enc.length / 2) ^ 0x11).toByte
    intercept[Exception](Fsst.decode(bad))
  }

  test("truncation at every boundary throws, never mis-decodes") {
    val data = ("the quick brown fox " * 40).getBytes("UTF-8")
    for ((name, encode, decode) <- coders) {
      val enc = encode(data)
      var cut = 0
      while (cut < enc.length) {
        val r = try {
          val d = decode(enc, cut, data.length)
          Some(d)
        } catch {
          case TruncatedException    => None
          case _: CorruptException   => None
        }
        // a successful decode of a truncated buffer must never silently
        // produce the full-length answer from thin air
        r.foreach(d => assert(d.length < data.length || cut == enc.length, name))
        cut += 1
      }
    }
  }

  test("random single-byte mutations terminate: loud error or sized output") {
    // the kernel's contract under corruption: throw Truncated/Corrupt or
    // return exactly the declared count (the frame-level CRC then catches
    // any silent bit damage) — never hang, never over/under-produce
    val data = ("abcabcababcbcbacbab" * 30).getBytes("UTF-8")
    for ((name, encode, decode) <- coders) {
      val enc = encode(data)
      val rng = new scala.util.Random(7)
      (1 to 200).foreach { _ =>
        val bad = enc.clone()
        val i = rng.nextInt(bad.length)
        bad(i) = (bad(i) ^ (1 << rng.nextInt(8))).toByte
        try {
          val d = decode(bad, bad.length, data.length)
          assert(d.length <= (enc.length + data.length) * 8, name)
        } catch {
          case TruncatedException  => ()
          case _: CorruptException => ()
        }
      }
    }
  }
}
