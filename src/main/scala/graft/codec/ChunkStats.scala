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
  * The selector runs on every block of a chunk, so one scan (`scan`) does
  * all the work for a slice and allocates nothing beyond its stats and
  * distinct-value array: varint lengths are branch-free, the zigzag varint
  * sum is taken only for a slice with a negative value, and a slice whose
  * values span fewer than 2^16 sets a bit per new run value in a
  * per-thread bitmap during the main pass (counting the distinct values as
  * it goes), read out already sorted (no hashing, no sort). Only wider
  * ranges fall back to a hash set and a sort.
  *
  * `TokenCodec.encodeAuto` reads each token once for statistics
  * (`analyzeSplit`): it scans each block for its own codec choice and
  * derives the whole chunk's stats from the blocks' instead of scanning the
  * chunk again (`merge`), and the blocks' bitmaps OR into the chunk's
  * distinct set, which gives its token sketch. A block's scan skips what a
  * bound already settles: the sorted read-out and header sum of a dict
  * that its distinct count alone proves loses, and the zigzag sum of a
  * varint that its one byte per value already prices out.
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

  /** Exact analysis of the slice [from, until): a pass for the range, then
    * `scan`. */
  def analyze(v: Array[Int], from: Int, until: Int): ChunkStats =
    if (until == from) // dict payload for card=0: varint(0) + width byte = 2
      ChunkStats(0, 0, 0, 0, 0, 0, Array.emptyIntArray, 0, 0, 2, 1)
    else scanSlice(v, from, until, select = false)

  /** Selection stats of the slice [from, until): exact in every field that
    * choosing its codec (`bestCodec`) and writing that codec read, but a
    * codec that a lower bound proves loses gets size Int.MaxValue instead
    * of its exact size (see `scan`). */
  private[codec] def select(v: Array[Int], from: Int, until: Int): ChunkStats =
    if (until == from) analyze(v, from, until)
    else scanSlice(v, from, until, select = true)

  private def scanSlice(v: Array[Int], from: Int, until: Int,
                        select: Boolean): ChunkStats = {
    val r = range(v, from, until)
    val min = (r >>> 32).toInt
    val max = r.toInt
    scan(v, from, until, min, max, min, bitmapFor(min, max), null, select)
  }

  /** The selection stats of each block of v[0, splits.last), the exact
    * stats of the whole of it (equal to `analyze`) and its distinct set as
    * a bitmap over [min, max] (null when that spans 2^16 values or more). */
  final class Split(val blocks: Array[ChunkStats], val whole: ChunkStats,
                    val distinct: Array[Long])

  /** `Split` of v at the block ends `splits` (ascending, no empty block),
    * from one pass over the values per block plus one for all the bounds:
    * the whole slice's stats are derived from the blocks' (see `merge`)
    * instead of scanning again. For a whole slice narrower than 2^16
    * values every block's bitmap is based at the slice's minimum, so each
    * block's distinct words OR straight into the slice's bitmap as they
    * are cleared. */
  private[codec] def analyzeSplit(v: Array[Int], splits: Array[Int]): Split = {
    val nb = splits.length
    val lo = new Array[Int](nb)
    val hi = new Array[Int](nb)
    var from = 0
    var b = 0
    while (b < nb) {
      if (splits(b) <= from) throw new IllegalArgumentException(s"empty block $b")
      val r = range(v, from, splits(b))
      lo(b) = (r >>> 32).toInt
      hi(b) = r.toInt
      from = splits(b)
      b += 1
    }
    var min = lo(0)
    var max = hi(0)
    b = 1
    while (b < nb) {
      if (lo(b) < min) min = lo(b)
      if (hi(b) > max) max = hi(b)
      b += 1
    }
    val distinct =
      if (max.toLong - min.toLong < BitmapSpan) new Array[Long](((max - min) >>> 6) + 1)
      else null
    val blocks = new Array[ChunkStats](nb)
    from = 0
    b = 0
    while (b < nb) {
      blocks(b) =
        if (distinct != null)
          scan(v, from, splits(b), lo(b), hi(b), min, bitmap.get, distinct, select = true)
        else
          scan(v, from, splits(b), lo(b), hi(b), lo(b), bitmapFor(lo(b), hi(b)), null,
            select = true)
      from = splits(b)
      b += 1
    }
    new Split(blocks, merge(v, splits, blocks, min, max, distinct), distinct)
  }

  /** min << 32 | max (as unsigned 32 bits) of the non-empty v[from, until). */
  private def range(v: Array[Int], from: Int, until: Int): Long = {
    var min = v(from)
    var max = min
    var i = from + 1
    while (i < until) {
      val x = v(i)
      if (x < min) min = x
      if (x > max) max = x
      i += 1
    }
    (min.toLong << 32) | (max & 0xffffffffL)
  }

  /** The thread's bitmap for a slice of these bounds, null when they span
    * `BitmapSpan` values or more. */
  private def bitmapFor(min: Int, max: Int): Array[Long] =
    if (max.toLong - min.toLong < BitmapSpan) bitmap.get else null

  /** The one scan: the stats of the non-empty v[from, until), whose bounds
    * min and max the caller found. The runs, RLE and delta sizes and the
    * unsigned varint sum come from one pass, which also sets the bit at
    * offset x - base of `bits` (the thread's bitmap) for each new run
    * value, counting the distinct values as it goes; with `bits` null (a
    * slice of 2^16 values or wider) the distinct set comes from a hash set
    * and a sort. The zigzag varint sum is taken only for a slice with a
    * negative value. The bitmap is read out sorted, or only cleared, and
    * as it is cleared each of its words is ORed into `into` when that is
    * not null.
    *
    * With `select`, a codec that a lower bound already proves loses to
    * `bestCodec`'s choice (keeping its preference order at equal sizes)
    * gets size Int.MaxValue instead of an exact sum: zigzag varint at one
    * byte per value, and dict at one header byte per distinct value, in
    * which case its values are not read out (`sortedDistinct` is empty,
    * `card` stays exact). */
  private def scan(v: Array[Int], from: Int, until: Int, min: Int, max: Int,
                   base: Int, bits: Array[Long], into: Array[Long],
                   select: Boolean): ChunkStats = {
    val n = until - from
    var prev = v(from)
    var runCount = 1
    var maxRun = 1
    var curRun = 1
    var rle = Varint.zlen32(prev) // first run's value; lengths added below
    var delta = Varint.zlen32(prev)
    var ulen = Varint.len32(prev) // unsigned; valid if min>=0
    val narrow = bits != null
    var nDistinct = 0
    if (narrow) nDistinct = setBit(bits, prev - base)
    var i = from + 1
    while (i < until) {
      val x = v(i)
      if (x == prev) {
        curRun += 1
      } else {
        rle += Varint.len32(curRun - 1) + Varint.zlen32(x)
        if (curRun > maxRun) maxRun = curRun
        curRun = 1
        runCount += 1
        if (narrow) nDistinct += setBit(bits, x - base)
      }
      delta += Varint.zlen(x.toLong - prev.toLong)
      ulen += Varint.len32(x)
      prev = x
      i += 1
    }
    rle += Varint.len32(curRun - 1)
    if (curRun > maxRun) maxRun = curRun

    // the smallest size among the codecs `bestCodec` prefers to dict and
    // varint at equal size; dict and varint win only below it
    val lead = math.min(math.min(4 * n,
      5 + BitPacking.packedBytes(n, BitPacking.bitsFor(max.toLong - min.toLong))), rle)
    // the unsigned sum used `& 0xffffffffL` so it's only meaningful when all
    // values are non-negative; with negatives the codec flags zigzag mode,
    // and only then is the zigzag sum taken
    val varintPayload =
      if (min >= 0) 1 + ulen
      else if (select && (n + 1 >= lead || n + 1 > delta)) Int.MaxValue
      else 1 + zlenSum(v, from, until)

    var sorted = if (narrow) null else distinctByHash(v, from, until)
    val card = if (narrow) nDistinct else if (sorted == null) -1 else sorted.length
    val dictLoses = select && card >= 0 && {
      val bound = Varint.len(card.toLong) + card + 1 +
        BitPacking.packedBytes(n, BitPacking.bitsFor((card - 1).toLong))
      bound >= lead || bound > math.min(varintPayload, delta)
    }
    if (dictLoses) sorted = null
    else if (narrow) sorted = new Array[Int](card)
    if (narrow) drain(bits, min - base, max - base, into, sorted, base)
    ChunkStats(n, min, max, runCount, maxRun, card,
      if (sorted == null) Array.emptyIntArray else sorted, rle, delta,
      if (sorted == null) Int.MaxValue else dictSize(sorted, n), varintPayload)
  }

  /** Exact dict payload of n values with the sorted distinct set `sorted`. */
  private def dictSize(sorted: Array[Int], n: Int): Int = {
    val card = sorted.length
    var hdr = Varint.len(card.toLong) + Varint.zlen(sorted(0).toLong)
    var j = 1
    while (j < card) {
      hdr += Varint.len(sorted(j).toLong - sorted(j - 1).toLong)
      j += 1
    }
    hdr + 1 + BitPacking.packedBytes(n, BitPacking.bitsFor((card - 1).toLong))
  }

  /** The stats of the whole of v[0, splits.last) from those of its blocks
    * and its bounds: the sums add up, with fix-ups at each block end. A run
    * that goes on over a block end is one run, not two (its RLE entry is
    * priced at its whole length, and it may be the longest run); a run can
    * go on over several whole one-run blocks, so the length of the run
    * that ends a block is carried to the next one, and only the lead and
    * trail runs of a block of several runs are walked in the values. The
    * first delta of each block is taken from the value before it. The
    * varint sum adds up when no value is negative; otherwise the zigzag sum
    * is taken over all the values. The distinct set is `distinct` (filled
    * by the block scans), or a hash set over the values for a range of
    * 2^16 or more. */
  private def merge(v: Array[Int], splits: Array[Int], blocks: Array[ChunkStats],
                    min: Int, max: Int, distinct: Array[Long]): ChunkStats = {
    val n = splits(splits.length - 1)
    var runCount = 0
    var maxRun = 0
    var rle = 0
    var delta = 0
    var ulen = 0
    var carried = 0 // length of the run ending the blocks so far; 0 if unknown
    var from = 0
    var b = 0
    while (b < blocks.length) {
      val s = blocks(b)
      runCount += s.runCount
      if (s.maxRun > maxRun) maxRun = s.maxRun
      rle += s.rlePayload
      delta += s.deltaPayload
      if (min >= 0) ulen += s.varintPayload - 1
      val oneRun = s.runCount == 1
      var trail = if (oneRun) s.n else 0
      if (b > 0) {
        val x = v(from)
        val p = v(from - 1)
        delta += Varint.zlen(x.toLong - p.toLong) - Varint.zlen32(x)
        if (x == p) {
          // a block of several runs has a different value before its trail
          // run and after its lead run, so these walks stay in the block
          if (carried == 0) {
            var k = from - 1
            while (v(k - 1) == x) k -= 1
            carried = from - k
          }
          var lead = s.n
          if (!oneRun) {
            var k = from + 1
            while (v(k) == x) k += 1
            lead = k - from
          }
          val run = carried + lead
          runCount -= 1
          if (run > maxRun) maxRun = run
          rle += Varint.len32(run - 1) - Varint.len32(carried - 1) -
            Varint.len32(lead - 1) - Varint.zlen32(x)
          if (oneRun) trail = run
        }
      }
      carried = trail
      from = splits(b)
      b += 1
    }
    val varintPayload = 1 + (if (min >= 0) ulen else zlenSum(v, 0, n))
    val sorted = if (distinct != null) bitmapValues(distinct, min) else distinctByHash(v, 0, n)
    ChunkStats(n, min, max, runCount, maxRun, if (sorted == null) -1 else sorted.length,
      if (sorted == null) Array.emptyIntArray else sorted, rle, delta,
      if (sorted == null) Int.MaxValue else dictSize(sorted, n), varintPayload)
  }

  /** The values whose bits are set in `words`, a bitmap based at `base`, in
    * order. */
  private def bitmapValues(words: Array[Long], base: Int): Array[Int] = {
    var card = 0
    var w = 0
    while (w < words.length) { card += java.lang.Long.bitCount(words(w)); w += 1 }
    val out = new Array[Int](card)
    var k = 0
    w = 0
    while (w < words.length) {
      var word = words(w)
      while (word != 0L) {
        out(k) = base + (w << 6) + java.lang.Long.numberOfTrailingZeros(word)
        k += 1
        word &= word - 1L
      }
      w += 1
    }
    out
  }

  private def zlenSum(v: Array[Int], from: Int, until: Int): Int = {
    var s = 0
    var i = from
    while (i < until) { s += Varint.zlen32(v(i)); i += 1 }
    s
  }

  /** Value ranges narrower than this take the bitmap path: 2^16 bits is an
    * 8 KB scratch per thread, and at most 2^16 distinct values can never
    * overflow `DictCap`. */
  private[codec] final val BitmapSpan = 1 << 16

  /** All-zero between calls: `scan` (through `drain`) and `dictRanks`
    * clear what they set. Words [0, 1024) hold one bit per value offset;
    * the 16 words after them are `setBit`'s summary, one bit per word. */
  private final val Summary = BitmapSpan >>> 12
  private val bitmap = ThreadLocal.withInitial[Array[Long]](() =>
    new Array[Long]((BitmapSpan >>> 6) + Summary))

  /** Set bit d of the value bitmap and its word's summary bit; 1 if the
    * bit was clear. */
  @inline private def setBit(bits: Array[Long], d: Int): Int = {
    val w = d >>> 6
    val word = bits(w)
    bits(w) = word | (1L << d)
    bits((BitmapSpan >>> 6) + (w >>> 6)) |= 1L << w
    (~(word >>> d) & 1L).toInt
  }

  /** Clear the bitmap between offsets lo and hi, ORing each word into
    * `into` when that is not null, and read the values set in it out into
    * `out` (in order) when that is not null. The summary leads straight to
    * the touched words (a block of 256 values spread over a 50K-token
    * vocabulary touches a few hundred of its 782 words), whose bits are
    * read out with numberOfTrailingZeros. */
  private def drain(bits: Array[Long], lo: Int, hi: Int, into: Array[Long],
                    out: Array[Int], base: Int): Unit = {
    val sum = BitmapSpan >>> 6
    var k = 0
    var s = lo >>> 12
    while (s <= (hi >>> 12)) {
      var touched = bits(sum + s)
      bits(sum + s) = 0L
      while (touched != 0L) {
        val w = (s << 6) + java.lang.Long.numberOfTrailingZeros(touched)
        var word = bits(w)
        bits(w) = 0L
        if (into != null) into(w) |= word
        val at = base + (w << 6)
        while (out != null && word != 0L) {
          out(k) = at + java.lang.Long.numberOfTrailingZeros(word)
          k += 1
          word &= word - 1L
        }
        touched &= touched - 1L
      }
      s += 1
    }
  }

  /** Index of each value of v[from, until) in `dict`, the sorted distinct
    * values of that slice, into idx(0..): a rank over a bitmap of `dict`
    * (the bits below the value in its word, plus the per-word prefix count)
    * instead of a binary search per value. `dict` must span fewer than
    * `BitmapSpan` values. */
  private[codec] def dictRanks(dict: Array[Int], v: Array[Int], from: Int,
                               until: Int, idx: Array[Int]): Unit = {
    if (dict.length == 0) return
    val min = dict(0)
    val bits = bitmap.get
    val nWords = ((dict(dict.length - 1) - min) >>> 6) + 1
    var j = 0
    while (j < dict.length) {
      val d = dict(j) - min
      bits(d >>> 6) |= 1L << d
      j += 1
    }
    val prefix = new Array[Int](nWords)
    var c = 0
    var w = 0
    while (w < nWords) {
      prefix(w) = c
      c += java.lang.Long.bitCount(bits(w))
      w += 1
    }
    var i = from
    while (i < until) {
      val d = v(i) - min
      idx(i - from) = prefix(d >>> 6) +
        java.lang.Long.bitCount(bits(d >>> 6) & ((1L << d) - 1L))
      i += 1
    }
    java.util.Arrays.fill(bits, 0, nWords, 0L)
  }

  /** The distinct values of `st` as a bitmap over [st.min, st.max] (bit k
    * of word w is the value min + 64w + k); null for an empty slice or a
    * range of `BitmapSpan` or wider. */
  def distinctBitmap(st: ChunkStats): Array[Long] = {
    if (st.n == 0 || st.max.toLong - st.min.toLong >= BitmapSpan) return null
    val words = new Array[Long](((st.max - st.min) >>> 6) + 1)
    val values = st.sortedDistinct
    var j = 0
    while (j < values.length) {
      val o = values(j) - st.min
      words(o >>> 6) |= 1L << o
      j += 1
    }
    words
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
