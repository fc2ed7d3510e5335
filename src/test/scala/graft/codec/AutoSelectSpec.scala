package graft.codec

import java.util.zip.CRC32

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import graft.GenChecks

/** `TokenCodec.encodeAuto` sizes the blocks from their stats and writes
  * them straight into the frame, and returns the bounds and distinct set
  * of its whole-vector analysis. It must give the same bytes as the
  * selection it replaced (whole-vector analyze, then the blocks encoded to
  * a payload, then the size comparison, then a copy into the frame), and
  * the bounds and set must be those of the values. `encodeDict`'s bitmap
  * rank must write what the binary-search encoder wrote. */
class AutoSelectSpec extends AnyFunSuite with GenChecks {
  import AutoSelectSpec._

  private def checkAuto(v: Array[Int], rowLens: Array[Int]): Unit = {
    val ctx = s"n=${v.length} rows=${Option(rowLens).map(_.length)}"
    assert(java.util.Arrays.equals(TokenCodec.encodeAuto(v, rowLens),
      twoPass(v, rowLens)), ctx)
    val auto = TokenCodec.encodeAutoFrame(v, v.length, rowLens)
    if (v.nonEmpty) {
      assert(auto.min == v.min && auto.max == v.max, ctx)
      val want = ChunkStats.distinctBitmap(ChunkStats.analyze(v))
      assert(java.util.Arrays.equals(auto.distinct, want), ctx)
    }
    // the slice form over a longer buffer encodes only its prefix
    val padded = java.util.Arrays.copyOf(v, v.length + 7)
    java.util.Arrays.fill(padded, v.length, padded.length, -123456789)
    assert(java.util.Arrays.equals(
      TokenCodec.encodeAutoFrame(padded, v.length, rowLens).frame,
      TokenCodec.encodeAuto(v, rowLens)), ctx)
  }

  /** Rows of lengths drawn from `lens`, whose values come from `value`,
    * with runs carried across row ends when `carry`. */
  private def rows(nRows: Int, lens: Gen[Int], value: Gen[Int], carry: Boolean,
                   seed: Long): (Array[Int], Array[Int]) = {
    val rng = new scala.util.Random(seed)
    val p = Gen.Parameters.default
    var s = org.scalacheck.rng.Seed(seed)
    def draw[A](g: Gen[A]): A = {
      var a = g.apply(p, s); s = s.next
      while (a.isEmpty) { a = g.apply(p, s); s = s.next }
      a.get
    }
    val rl = Array.fill(nRows)(draw(lens))
    val v = new Array[Int](rl.sum)
    var i = 0
    var last = draw(value)
    while (i < v.length) {
      // runs of 1..40 equal values, continuing over row ends
      val run = 1 + rng.nextInt(40)
      val x = if (carry && rng.nextInt(3) == 0) last else draw(value)
      var k = 0
      while (k < run && i < v.length) { v(i) = x; i += 1; k += 1 }
      last = x
    }
    (v, rl)
  }

  test("runs crossing block ends, whole-block runs and row-aligned splits") {
    val values = Gen.oneOf(Gen.choose(0, 300), Gen.choose(0, 50256),
      Gen.choose(0, 3))
    forAll(Gen.zip(Gen.choose(2, 120), values, Gen.choose(1L, 1000000L)),
        trials = 120) { case (nRows, value, seed) =>
      val (v, rl) = rows(nRows, Gen.choose(0, 700), value, carry = true, seed)
      checkAuto(v, rl)
      checkAuto(v, null)
    }
  }

  test("all-equal chunks, single-block vectors and vectors under MinTokens") {
    for (n <- Seq(0, 1, 2, 255, 256, 511, 512, 513, 4096, 4097, 20000)) {
      val eq = Array.fill(n)(7)
      checkAuto(eq, null)
      checkAuto(eq, if (n == 0) Array.emptyIntArray else Array.fill(n)(1))
      checkAuto(eq, Array(n)) // one row: one block
      val ramp = Array.tabulate(n)(i => i % 300)
      checkAuto(ramp, Array(n))
      checkAuto(ramp, Array.fill(n / 100)(100) :+ (n % 100))
    }
    // whole blocks of one value chained across several block ends
    val chain = Array.fill(3000)(5) ++ Array.tabulate(700)(_ % 13) ++ Array.fill(2000)(5)
    checkAuto(chain, Array.fill(57)(100))
    checkAuto(chain, Array.fill(19)(300))
  }

  test("negative values and Int extremes") {
    forAll(Gen.zip(Gen.choose(2, 60), Gen.choose(1L, 100000L)), trials = 40) {
      case (nRows, seed) =>
        val (v, rl) = rows(nRows, Gen.choose(0, 400),
          Gen.oneOf(Gen.choose(-40, 40), Gen.choose(Int.MinValue, Int.MaxValue),
            Gen.oneOf(Int.MinValue, Int.MaxValue, 0, -1)), carry = true, seed)
        checkAuto(v, rl)
    }
    val ext = Array.tabulate(3000)(i => if (i % 7 == 0) Int.MinValue else if (i % 5 == 0) Int.MaxValue else i)
    checkAuto(ext, Array.fill(30)(100))
  }

  test("ranges of 2^16-1, 2^16 and 2^16+1") {
    for (span <- Seq(65535, 65536, 65537); lo <- Seq(0, 1000, -5)) {
      val rng = new scala.util.Random(span + lo)
      val v = Array.fill(6000)(lo + rng.nextInt(span))
      v(17) = lo
      v(4000) = lo + span
      checkAuto(v, Array.fill(60)(100))
      val sorted = v.sorted
      checkAuto(sorted, Array.fill(60)(100))
    }
  }

  test("more than DictCap distinct values") {
    val v = Array.tabulate(ChunkStats.DictCap + 3000)(i => (i * 977) % 5000011)
    checkAuto(v, Array.fill(v.length / 1000)(1000) :+ (v.length % 1000))
    checkAuto(v.sorted, null)
  }

  test("chunks where a flat codec wins") {
    // one token repeated with rare exceptions: RLE or bitpack of the whole
    // vector beats per-block frames, whose headers dominate
    val sparse = Array.tabulate(40000)(i => if (i % 9973 == 0) 1 else 0)
    checkAuto(sparse, Array.fill(400)(100))
    val tiny = Array.tabulate(2048)(i => i & 1)
    checkAuto(tiny, Array.fill(2048 / 256)(256))
    val enc = TokenCodec.encodeAuto(sparse, Array.fill(400)(100))
    assert(enc(2) != CodecId.Blocks && (enc(2) != CodecId.HPack ||
      Huffman.decode(enc, TokenCodec.HeaderLen, enc.length - TokenCodec.CrcLen)(2) != CodecId.Blocks))
  }

  /** `checkAuto`, and the whole-chunk stats that `analyzeSplit` derives
    * from the blocks' must equal `analyze` of the whole chunk, field by
    * field; its distinct bitmap must be `distinctBitmap` of that. */
  private def checkMerged(v: Array[Int], rowLens: Array[Int]): Unit = {
    checkAuto(v, rowLens)
    val splits =
      if (rowLens != null) BlockCodec.rowSplits(rowLens)
      else BlockCodec.fixedSplits(v.length)
    if (splits.nonEmpty) {
      val ctx = s"n=${v.length} blocks=${splits.length}"
      val split = ChunkStats.analyzeSplit(v, splits)
      val want = ChunkStats.analyze(v)
      assert(split.whole.copy(sortedDistinct = null) == want.copy(sortedDistinct = null), ctx)
      assert(split.whole.sortedDistinct.sameElements(want.sortedDistinct), ctx)
      assert(java.util.Arrays.equals(split.distinct, ChunkStats.distinctBitmap(want)), ctx)
      // each block's stats choose and size what analyze of the block would
      var from = 0
      for ((b, k) <- split.blocks.zipWithIndex) {
        val exact = ChunkStats.analyze(v, from, splits(k))
        assert(b.bestCodec == exact.bestCodec && b.bestSize == exact.bestSize,
          s"$ctx block $k")
        from = splits(k)
      }
    }
  }

  test("merged stats: a chunk spanning 2^16 or more whose every block is narrow") {
    val rng = new scala.util.Random(3)
    // four 600-token rows, each within 300 values, 40,000 apart
    val v = Array.tabulate(2400)(i => (i / 600) * 40000 + rng.nextInt(300))
    checkMerged(v, Array.fill(4)(600))
    checkMerged(v.map(_ - 70000), Array.fill(4)(600)) // and below zero
    val wide = Array.tabulate(3000)(i => if (i < 1500) rng.nextInt(200) else Int.MaxValue - rng.nextInt(200))
    checkMerged(wide, Array.fill(10)(300))
  }

  test("merged stats: negative values in one block only") {
    val rng = new scala.util.Random(4)
    val v = Array.tabulate(3000)(i => if (i >= 1200 && i < 1500) -1 - rng.nextInt(50) else rng.nextInt(5000))
    checkMerged(v, Array.fill(10)(300))
    checkMerged(v, null)
    val far = v.clone()
    far(1300) = Int.MinValue
    checkMerged(far, Array.fill(10)(300))
  }

  test("merged stats: a run over three and more whole blocks") {
    val rng = new scala.util.Random(5)
    def noise(n: Int) = Array.fill(n)(rng.nextInt(40))
    for (whole <- Seq(3, 4, 7); lead <- Seq(0, 1, 77); trail <- Seq(0, 1, 130)) {
      // a run that starts `lead` tokens before a block end, fills `whole`
      // 300-token blocks, and ends `trail` tokens into the next block
      val v = noise(300 - lead) ++ Array.fill(lead + 300 * whole + trail)(9) ++ noise(600 - trail)
      val rl = Array.fill(v.length / 300)(300)
      checkMerged(v, rl)
      val st = ChunkStats.analyze(v)
      assert(st.maxRun >= 300 * whole)
    }
    // the whole chunk one value, split in many blocks
    checkMerged(Array.fill(5000)(-3), Array.fill(20)(250))
  }

  test("merged stats: single-block and fixed-split chunks") {
    val rng = new scala.util.Random(6)
    for (n <- Seq(512, 4096, 9000)) {
      val v = Array.fill(n)(rng.nextInt(50257))
      checkMerged(v, Array(n))    // one row: one block, analyzed whole
      checkMerged(v, null)        // fixed 4096 splits
      checkMerged(v.sorted, null)
    }
    forAll(Gen.zip(Gen.choose(2, 80), Gen.choose(1L, 1000000L)), trials = 60) {
      case (nRows, seed) =>
        val (v, rl) = rows(nRows, Gen.choose(0, 900),
          Gen.oneOf(Gen.choose(0, 300), Gen.choose(-40, 40), Gen.choose(0, 50256),
            Gen.choose(Int.MinValue, Int.MaxValue)), carry = true, seed)
        checkMerged(v, rl)
        checkMerged(v, null)
    }
  }

  test("dict ranks write what the binary-search encoder wrote") {
    def check(v: Array[Int], from: Int, until: Int): Unit = {
      val st = ChunkStats.analyze(v, from, until)
      if (st.card >= 0) {
        val out = new Array[Byte](TokenCodec.Overhead + st.dictPayload)
        TokenCodec.encodeInto(CodecId.Dict, v, from, until, st, out, 0)
        assert(java.util.Arrays.equals(out, dictOracle(v, from, until, st)),
          s"slice [$from, $until) of ${v.length}")
      }
    }
    val values = Gen.oneOf(Gen.choose(0, 300), Gen.choose(-40, 40),
      Gen.choose(0, 50256), Gen.choose(Int.MinValue, Int.MaxValue))
      .flatMap(g => Gen.listOf(Gen.frequency(3 -> g, 1 -> Gen.const(7))))
    val slices = for {
      v <- values.map(_.toArray) if v.length >= 2
      from <- Gen.choose(1, v.length)
      until <- Gen.choose(from, v.length)
    } yield (v, from, until)
    forAll(slices, trials = 300) { case (v, from, until) => check(v, from, until) }
    for (v <- Seq(Array(-5, -3, -3, -1000000, 0, 12), Array(Int.MinValue, Int.MaxValue, 0, -1, 1),
        Array.fill(1000)(42), Array.fill(300)(-7), Array(Int.MinValue)))
      check(v, 0, v.length)
    for (span <- Seq(65535L, 65536L, 65537L); lo <- Seq(0, -30000, Int.MinValue, Int.MaxValue - 65537)) {
      val rng = new graft.io.Corpus.Rng(span + lo)
      val v = Array.fill(5000)((lo + (rng.nextDouble() * span).toLong).toInt)
      v(0) = lo
      v(4999) = (lo + span).toInt
      check(v, 0, v.length)
      check(v, 1, v.length)
    }
  }
}

object AutoSelectSpec {
  /** The selection as it was: analyze the whole vector, encode the blocks
    * to a payload, keep the smaller, then the entropy wrap. */
  def twoPass(values: Array[Int], rowLens: Array[Int]): Array[Byte] = {
    if (values.length < BlockCodec.MinTokens) return TokenCodec.encodeAutoFlat(values)
    val splits =
      if (rowLens != null) BlockCodec.rowSplits(rowLens)
      else BlockCodec.fixedSplits(values.length)
    val stats = ChunkStats.analyze(values, 0, values.length)
    val flatBest = stats.payloadSize(stats.bestCodec)
    val blocked =
      if (splits.length > 1) {
        val payload = BlockCodec.encode(values, splits)
        if (payload.length < flatBest) frame(CodecId.Blocks, values.length, payload)
        else null
      } else null
    val inner =
      if (blocked != null) blocked else TokenCodec.encode(stats.bestCodec, values, stats)
    if (inner.length < (1 << 10)) return inner
    val packed = Huffman.encode(inner)
    if (TokenCodec.Overhead + packed.length >= inner.length) inner
    else frame(CodecId.HPack, values.length, packed)
  }

  def frame(codec: Byte, n: Int, body: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](TokenCodec.Overhead + body.length)
    out(0) = TokenCodec.MagicG; out(1) = TokenCodec.MagicT; out(2) = codec
    TokenCodec.writeIntLE(out, 3, n)
    System.arraycopy(body, 0, out, TokenCodec.HeaderLen, body.length)
    val crc = new CRC32
    crc.update(out, 0, TokenCodec.HeaderLen + body.length)
    TokenCodec.writeIntLE(out, TokenCodec.HeaderLen + body.length, crc.getValue.toInt)
    out
  }

  /** The dict frame with each index found by binary search. */
  def dictOracle(v: Array[Int], from: Int, until: Int, st: ChunkStats): Array[Byte] = {
    val dict = st.sortedDistinct
    val card = dict.length
    val body = new Array[Byte](st.dictPayload)
    var pos = Varint.write(body, 0, card.toLong)
    if (card > 0) {
      pos = Varint.writeZ(body, pos, dict(0).toLong)
      var i = 1
      while (i < card) { pos = Varint.write(body, pos, dict(i).toLong - dict(i - 1).toLong); i += 1 }
    }
    val width = BitPacking.bitsFor((card - 1).toLong)
    body(pos) = width.toByte
    pos += 1
    val idx = Array.tabulate(until - from)(i => java.util.Arrays.binarySearch(dict, v(from + i)))
    pos = BitPacking.pack(idx, 0, idx.length, 0L, width, body, pos)
    assert(pos == body.length)
    frame(CodecId.Dict, until - from, body)
  }
}
