package graft.codec

import org.scalatest.funsuite.AnyFunSuite

/** The bytes of every Huffman model, pinned as (total length, CRC32) over a
  * fixed seeded input set: order-0, order-1 and full order-1 frames, the
  * shared model `trainModel` writes, and a bitstream coded against that
  * model. The pairs were recorded from the three coders the one core
  * replaced (an order-0, a 32-class and a 256-class object), so every frame
  * they wrote is a frame the core writes, and reads. */
class HuffmanPinSpec extends AnyFunSuite {
  import HuffmanPinSpec._

  private val sample = FsstFixtures.frontCodedIds(0L, 1000)
  private val model = Huffman.modelTables(Huffman.trainModel(sample))

  private def pin(outs: Seq[Array[Byte]]): (Long, Long) = {
    val crc = new java.util.zip.CRC32
    outs.foreach(o => crc.update(o))
    (outs.map(_.length.toLong).sum, crc.getValue)
  }

  test("every model reproduces its pinned bytes") {
    val in = inputs.map(_._2)
    // the input set the pairs were recorded over
    assert(in.map(_.length) == Seq(0, 1, 3000, 5000, 6240, 26268, 20000, 25523, 121392))
    assert(pin(in.map(Huffman.encode(_))) == (100461L, 2734167393L))
    assert(pin(in.map(Huffman.encode(_, Huffman.Order1))) == (101246L, 3036179525L))
    assert(pin(in.map(Huffman.encode(_, Huffman.Order1Full))) == (143866L, 2803195448L))
    assert(pin(in.map(Huffman.trainModel)) == (36864L, 1882617512L))
    assert(pin(in.map(Huffman.encodeBitsWithModel(model, _))) == (206943L, 3592535360L))
  }

  test("every input round-trips through every model") {
    for ((name, data) <- inputs) {
      for (shift <- Seq(Huffman.Order0, Huffman.Order1, Huffman.Order1Full)) {
        val enc = Huffman.encode(data, shift)
        assert(Huffman.decode(enc, 0, enc.length, shift).sameElements(data),
          s"$name, shift $shift")
      }
      val bits = Huffman.encodeBitsWithModel(model, data)
      assert(Huffman.decodeBits(model, bits, 0, bits.length, data.length)
        .sameElements(data), s"$name, shared model")
      val own = Huffman.modelTables(Huffman.trainModel(data))
      val ownBits = Huffman.encodeBitsWithModel(own, data)
      assert(Huffman.decodeBits(own, ownBits, 0, ownBits.length, data.length)
        .sameElements(data), s"$name, its own model")
    }
  }
}

object HuffmanPinSpec {
  import FsstFixtures._

  /** Empty, one byte, a constant run, random bytes, front-coded doc_ids,
    * markov text and bytes, a TokenCodec frame, and a shuffled Fibonacci
    * skew whose codes reach the 15-bit cap (past the fast lookup table). */
  def inputs: Seq[(String, Array[Byte])] = {
    val rnd = new graft.io.Corpus.Rng(17L)
    val tok = new graft.io.Corpus.Rng(3L)
    val fib = Iterator.iterate((1, 1)) { case (a, b) => (b, a + b) }.map(_._1).take(24).toArray
    val skew = fib.zipWithIndex.flatMap { case (f, s) => Array.fill(f)(s.toByte) }
    val shuf = new graft.io.Corpus.Rng(5L)
    var i = skew.length - 1
    while (i > 0) {
      val j = shuf.nextInt(i + 1)
      val t = skew(i); skew(i) = skew(j); skew(j) = t
      i -= 1
    }
    Seq(
      "empty" -> Array.emptyByteArray,
      "one byte" -> Array[Byte](0x41),
      "constant run" -> Array.fill(3000)('q'.toByte),
      "random bytes" -> Array.fill(5000)(rnd.nextInt(256).toByte),
      "front-coded doc_ids" -> frontCodedIds(123456L, 2000),
      "markov text" -> markovText(3000, 40, seed = 13L),
      "markov bytes" -> markovBytes(20000, seed = 3L),
      "TokenCodec frame" -> TokenCodec.encodeAuto(
        Array.fill(20000)(tok.nextInt(1 << tok.nextInt(16)))),
      "fibonacci skew" -> skew)
  }
}
