package graft.codec

/** Per-chunk statistics + an EXACT size model for every codec.
  *
  * This is the engine's replacement for the reference's adaptive probability
  * model (`Ppmd7_Update*`, `/root/reference/src/lib/ppmd/Ppmd7.c:661-710`):
  * instead of adapting per symbol, we scan the chunk once, compute the exact
  * encoded size under each lightweight scheme, and pick the argmin
  * (SURVEY.md §4.1). Exactness (not sampling) makes the selector stable and
  * gives the property `chosenSize <= rawSize` by construction.
  *
  * The selector runs on every 256-token block, so `analyze` allocates
  * nothing per block beyond the distinct-value array: varint lengths are
  * branch-free, and a slice whose values span fewer than 2^16 sets bits in
  * a per-thread bitmap that is read out already sorted (no hashing, no
  * sort). Only wider ranges fall back to a hash set and a sort.
  *
  * All fields are mergeable except the exact varint sums, so the Spark-side
  * reporting aggregate (graft.stats) carries a mergeable subset; selection
  * itself is task-local over a fully materialized chunk, so exactness is free.
  */
final case class ChunkStats(
    n: Int,
    min: Int,
    max: Int,
    runCount: Int,
    maxRun: Int,
    card: Int,                 // -1 if distinct set overflowed DictCap
    sortedDistinct: Array[Int], // empty if overflowed
    rlePayload: Int,
    deltaPayload: Int,
    dictPayload: Int,          // Int.MaxValue if overflowed
    varintPayload: Int
) {
  def forWidth: Int =
    if (n == 0) 0 else BitPacking.bitsFor(max.toLong - min.toLong)

  def rawPayload: Int = 4 * n
  def bitPackPayload: Int = 5 + BitPacking.packedBytes(n, forWidth)

  def payloadSize(codec: Byte): Int = codec match {
    case CodecId.Raw     => rawPayload
    case CodecId.BitPack => bitPackPayload
    case CodecId.Rle     => rlePayload
    case CodecId.Dict    => dictPayload
    case CodecId.Delta   => deltaPayload
    case CodecId.VarInt  => varintPayload
  }

  /** Deterministic argmin with fixed tie-break preference (fastest decode
    * first among equals). Guaranteed <= Raw. */
  def bestCodec: Byte = {
    var best = CodecId.Raw
    var bestSize = rawPayload
    var i = 0
    while (i < ChunkStats.preference.length) {
      val c = ChunkStats.preference(i)
      val s = payloadSize(c)
      if (s < bestSize) { best = c; bestSize = s }
      i += 1
    }
    best
  }

  def bestSize: Int = payloadSize(bestCodec) + TokenCodec.Overhead

  /** Shannon entropy estimate (bits/token) from the dict frequencies; -1 if
    * cardinality overflowed. Reporting only — selection uses exact sizes. */
  def entropyBits: Double = -1.0 // populated by analyze when cheap
}

object ChunkStats {
  /** Max distinct values tracked; beyond this, dict is not a candidate —
    * the analog of the reference's CUT_OFF/RESTART bounded-memory policy
    * (`Ppmd8.c:545-604`): overflow downgrades to bit-pack/raw instead of
    * growing state without bound. */
  final val DictCap = 1 << 16

  /** Selection preference at equal size (after implicit Raw baseline). */
  private[codec] val preference: Array[Byte] =
    Array(CodecId.BitPack, CodecId.Rle, CodecId.Dict, CodecId.VarInt,
      CodecId.Delta)

  def analyze(v: Array[Int]): ChunkStats = analyze(v, 0, v.length)

  /** Analysis of the slice [from, until): one pass for the range, runs and
    * exact varint sums, then the sorted distinct set. */
  def analyze(v: Array[Int], from: Int, until: Int): ChunkStats = {
    val n = until - from
    if (n == 0) // dict payload for card=0: varint(0) + width byte = 2
      return ChunkStats(0, 0, 0, 0, 0, 0, Array.emptyIntArray, 0, 0, 2, 1)

    var prev = v(from)
    var min = prev
    var max = prev
    var runCount = 1
    var maxRun = 1
    var curRun = 1
    var rle = Varint.zlen32(prev) // first run's value; lengths added below
    var delta = Varint.zlen32(prev)
    var ulen = Varint.len32(prev) // unsigned; valid if min>=0
    var zlenSum = Varint.zlen32(prev)
    var i = from + 1
    while (i < until) {
      val x = v(i)
      if (x < min) min = x
      if (x > max) max = x
      if (x == prev) {
        curRun += 1
      } else {
        rle += Varint.len32(curRun - 1) + Varint.zlen32(x)
        if (curRun > maxRun) maxRun = curRun
        curRun = 1
        runCount += 1
      }
      delta += Varint.zlen(x.toLong - prev.toLong)
      ulen += Varint.len32(x)
      zlenSum += Varint.zlen32(x)
      prev = x
      i += 1
    }
    rle += Varint.len32(curRun - 1)
    if (curRun > maxRun) maxRun = curRun

    val sorted =
      if (max.toLong - min.toLong < BitmapSpan) distinctByBitmap(v, from, until, min, max)
      else distinctByHash(v, from, until)
    var card = -1
    var dictPayload = Int.MaxValue
    if (sorted != null) {
      card = sorted.length
      var hdr = Varint.len(card.toLong) + Varint.zlen(sorted(0).toLong)
      var j = 1
      while (j < card) {
        hdr += Varint.len(sorted(j).toLong - sorted(j - 1).toLong)
        j += 1
      }
      val width = BitPacking.bitsFor((card - 1).toLong)
      dictPayload = hdr + 1 + BitPacking.packedBytes(n, width)
    }

    // the unsigned sum used `& 0xffffffffL` so it's only meaningful when all
    // values are non-negative; with negatives the codec flags zigzag mode.
    val varintPayload = 1 + (if (min >= 0) ulen else zlenSum)
    ChunkStats(n, min, max, runCount, maxRun, card,
      if (sorted == null) Array.emptyIntArray else sorted, rle, delta,
      dictPayload, varintPayload)
  }

  /** Value ranges narrower than this take the bitmap path: 2^16 bits is an
    * 8 KB scratch per thread, and at most 2^16 distinct values can never
    * overflow `DictCap`. */
  private final val BitmapSpan = 1 << 16

  /** All-zero between calls: `distinctByBitmap` clears what it sets. */
  private val bitmap = ThreadLocal.withInitial[Array[Long]](() => new Array[Long](BitmapSpan >>> 6))

  /** Sorted distinct values of a slice whose range [min, max] is narrower
    * than `BitmapSpan`: one bit per value offset, then the set bits read
    * out in order (and cleared) with numberOfTrailingZeros. */
  private def distinctByBitmap(v: Array[Int], from: Int, until: Int, min: Int,
                               max: Int): Array[Int] = {
    val bits = bitmap.get
    var i = from
    while (i < until) {
      val d = v(i) - min
      bits(d >>> 6) |= 1L << d
      i += 1
    }
    val last = (max - min) >>> 6
    var card = 0
    var w = 0
    while (w <= last) { card += java.lang.Long.bitCount(bits(w)); w += 1 }
    val out = new Array[Int](card)
    var k = 0
    w = 0
    while (w <= last) {
      var word = bits(w)
      if (word != 0L) {
        bits(w) = 0L
        val base = min + (w << 6)
        while (word != 0L) {
          out(k) = base + java.lang.Long.numberOfTrailingZeros(word)
          k += 1
          word &= word - 1L
        }
      }
      w += 1
    }
    out
  }

  /** Sorted distinct values of a wide-range slice, or null once more than
    * `DictCap` distinct values are seen. */
  private def distinctByHash(v: Array[Int], from: Int, until: Int): Array[Int] = {
    val set = new IntHashSet(math.min(until - from, DictCap))
    var i = from
    while (i < until && !set.overflowed) { set.add(v(i)); i += 1 }
    if (set.overflowed) null else set.toSortedArray
  }
}

/** Minimal open-addressing int set (no boxing) with a hard capacity cap. */
private[codec] final class IntHashSet(cap: Int) {
  private val capacity = Integer.highestOneBit(math.max(16, cap * 2) - 1) << 1
  private val mask = capacity - 1
  private val table = new Array[Int](capacity)
  private var hasZero = false
  private var count = 0
  var overflowed = false

  def size: Int = count

  /** overflow threshold is the requested cap, not table capacity */
  def add(x: Int): Unit = {
    if (overflowed) return
    if (x == 0) {
      if (!hasZero) { hasZero = true; count += 1; checkCap() }
      return
    }
    var idx = smear(x) & mask
    while (true) {
      val cur = table(idx)
      if (cur == x) return
      if (cur == 0) {
        table(idx) = x
        count += 1
        checkCap()
        return
      }
      idx = (idx + 1) & mask
    }
  }

  private def checkCap(): Unit = if (count > cap) overflowed = true

  private def smear(x: Int): Int = {
    var h = x * 0x9e3779b1
    h ^= h >>> 16
    h
  }

  def toSortedArray: Array[Int] = {
    val out = new Array[Int](count)
    var k = 0
    if (hasZero) { out(k) = 0; k += 1 }
    var i = 0
    while (i < capacity) {
      if (table(i) != 0) { out(k) = table(i); k += 1 }
      i += 1
    }
    java.util.Arrays.sort(out)
    out
  }
}
