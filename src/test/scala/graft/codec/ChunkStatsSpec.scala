package graft.codec

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import graft.GenChecks

/** `ChunkStats.analyze` against the straightforward analysis it replaced:
  * looping varint lengths and a sorted set of the distinct values. Every
  * field must agree, on both sides of the bitmap / hash-set boundary and
  * of the `DictCap` overflow. */
class ChunkStatsSpec extends AnyFunSuite with GenChecks {
  import ChunkStatsSpec._

  private def check(v: Array[Int], from: Int, until: Int): Unit = {
    val got = ChunkStats.analyze(v, from, until)
    val want = oracle(v, from, until)
    val ctx = s"slice [$from, $until) of ${v.length}"
    assert(got.copy(sortedDistinct = null) == want.copy(sortedDistinct = null), ctx)
    assert(got.sortedDistinct.sameElements(want.sortedDistinct), ctx)
  }
  private def checkAll(v: Array[Int]): Unit = check(v, 0, v.length)

  /** n values spread over [lo, lo + span], both ends included. */
  private def spanning(n: Int, lo: Int, span: Long, seed: Long): Array[Int] = {
    val rng = new graft.io.Corpus.Rng(seed)
    val v = Array.fill(n)((lo + (rng.nextDouble() * span).toLong).toInt)
    v(0) = lo
    v(n - 1) = (lo + span).toInt
    v
  }

  test("random slices with from > 0 match the oracle") {
    val values = Gen.oneOf(
      Gen.choose(0, 300),                    // narrow, runs likely
      Gen.choose(-40, 40),                   // straddles zero
      Gen.choose(0, 50256),                  // token ids
      Gen.choose(Int.MinValue, Int.MaxValue) // wide, hash-set path
    ).flatMap(g => Gen.listOf(Gen.frequency(3 -> g, 1 -> Gen.const(7))))
    val slices = for {
      v <- values.map(_.toArray) if v.length >= 2
      from <- Gen.choose(1, v.length)
      until <- Gen.choose(from, v.length)
    } yield (v, from, until)
    forAll(slices, trials = 300) { case (v, from, until) => check(v, from, until) }
  }

  test("negative values, Int extremes, empty and all-equal inputs") {
    checkAll(Array.emptyIntArray)
    check(Array(1, 2, 3), 2, 2)
    checkAll(Array(-5, -3, -3, -1000000, 0, 12))
    checkAll(Array(Int.MinValue, Int.MaxValue, 0, -1, 1))
    checkAll(Array(Int.MaxValue, Int.MaxValue, Int.MinValue))
    checkAll(Array(Int.MinValue))
    checkAll(Array.fill(1000)(42))
    checkAll(Array.fill(300)(-7))
    checkAll(Array.fill(5)(Int.MinValue))
  }

  test("ranges of 2^16-1, 2^16 and 2^16+1 straddle the bitmap boundary") {
    for (span <- Seq(65535L, 65536L, 65537L); lo <- Seq(0, -30000, Int.MinValue, Int.MaxValue - 65537)) {
      val v = spanning(5000, lo, span, span + lo)
      checkAll(v)
      check(v, 1, v.length) // the slice without the minimum
      val st = ChunkStats.analyze(v)
      assert(st.max.toLong - st.min.toLong == span)
      assert(st.card > 0)
    }
  }

  test("more than DictCap distinct values overflow the dictionary") {
    val distinct = (0 until ChunkStats.DictCap + 1).map(i => i * 977 - 30000000).toArray
    val rng = new scala.util.Random(5)
    val v = rng.shuffle(distinct.toSeq).toArray
    checkAll(v)
    val st = ChunkStats.analyze(v)
    assert(st.card == -1 && st.sortedDistinct.isEmpty && st.dictPayload == Int.MaxValue)
    // exactly DictCap distinct values still fit
    check(v, 1, v.length)
    assert(ChunkStats.analyze(v, 1, v.length).card == ChunkStats.DictCap)
  }

  test("Varint lengths match the looping definition") {
    assert(Varint.len(0L) == 1)
    assert(Varint.len(127L) == 1)
    assert(Varint.len(128L) == 2)
    assert(Varint.len(-1L) == 10)
    assert(Varint.len(Long.MaxValue) == 9)
    val probes = (0 until 64).flatMap(b => Seq(1L << b, (1L << b) - 1, (1L << b) + 1)) ++
      Seq(Long.MinValue, Long.MaxValue, -1L, -128L)
    probes.foreach { x =>
      assert(Varint.len(x) == loopLen(x), s"len($x)")
      assert(Varint.zlen(x) == loopLen(Varint.zigzag(x)), s"zlen($x)")
    }
    val ints = probes.map(_.toInt) ++ Seq(Int.MinValue, Int.MaxValue, -1, 0)
    ints.foreach { x =>
      assert(Varint.len32(x) == loopLen(x.toLong & 0xffffffffL), s"len32($x)")
      assert(Varint.zlen32(x) == loopLen(Varint.zigzag(x.toLong)), s"zlen32($x)")
    }
  }
}

object ChunkStatsSpec {
  def loopLen(v: Long): Int = {
    var x = v
    var n = 1
    while ((x & ~0x7fL) != 0L) { x >>>= 7; n += 1 }
    n
  }
  private def loopZlen(v: Long): Int = loopLen(Varint.zigzag(v))

  /** The single-pass analysis `ChunkStats.analyze` replaced. */
  def oracle(v: Array[Int], from: Int, until: Int): ChunkStats = {
    val n = until - from
    if (n == 0)
      return ChunkStats(0, 0, 0, 0, 0, 0, Array.emptyIntArray, 0, 0, 2, 1)
    var min = v(from)
    var max = v(from)
    var runCount = 1
    var maxRun = 1
    var curRun = 1
    var rle = loopZlen(v(from).toLong)
    var delta = loopZlen(v(from).toLong)
    var ulen = loopLen(v(from).toLong & 0xffffffffL)
    var zlenSum = loopZlen(v(from).toLong)
    val set = new java.util.TreeSet[Integer]()
    set.add(v(from))
    var i = from + 1
    while (i < until) {
      val x = v(i)
      if (x < min) min = x
      if (x > max) max = x
      if (x == v(i - 1)) curRun += 1
      else {
        rle += loopLen((curRun - 1).toLong)
        rle += loopZlen(x.toLong)
        if (curRun > maxRun) maxRun = curRun
        curRun = 1
        runCount += 1
      }
      delta += loopZlen(x.toLong - v(i - 1).toLong)
      ulen += loopLen(x.toLong & 0xffffffffL)
      zlenSum += loopZlen(x.toLong)
      set.add(x)
      i += 1
    }
    rle += loopLen((curRun - 1).toLong)
    if (curRun > maxRun) maxRun = curRun

    var card = -1
    var sorted: Array[Int] = Array.emptyIntArray
    var dictPayload = Int.MaxValue
    if (set.size <= ChunkStats.DictCap) {
      sorted = set.toArray(new Array[Integer](0)).map(_.intValue)
      card = sorted.length
      var hdr = loopLen(card.toLong) + loopZlen(sorted(0).toLong)
      var j = 1
      while (j < card) {
        hdr += loopLen(sorted(j).toLong - sorted(j - 1).toLong)
        j += 1
      }
      val width = BitPacking.bitsFor((card - 1).toLong)
      dictPayload = hdr + 1 + BitPacking.packedBytes(n, width)
    }
    val varintPayload = 1 + (if (min >= 0) ulen else zlenSum)
    ChunkStats(n, min, max, runCount, maxRun, card, sorted, rle, delta,
      dictPayload, varintPayload)
  }
}
