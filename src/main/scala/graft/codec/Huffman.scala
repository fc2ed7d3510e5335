package graft.codec

/** Canonical static Huffman coder over a byte alphabet (0..255) with a
  * static context model. The reference's PPMd reaches ~0.15 on text by
  * adaptive context modeling + range coding
  * (`/root/reference/src/lib/ppmd/Ppmd7Enc.c`); this engine deliberately
  * trades that for static entropy codes that are one sequential pass each
  * way, branch-light, and trivially chunk-parallel — the Spark-side
  * throughput/ratio point SURVEY.md §4.1 argues for.
  *
  * The model is one argument, `shift`: the class of the next symbol is the
  * previous byte `>>> shift` (0 before the first symbol), and each of the
  * `256 >>> shift` classes has its own code. Shift 8 (`Order0`, one class)
  * serves FSST mode 4 and the hpack wrap; shift 3 (`Order1`, the previous
  * byte's top 5 bits) FSST mode 6 and the shared doc_id model (mode 14);
  * shift 0 (`Order1Full`, the previous byte) the FSST mode-8 id stream.
  *
  * Format: [present bitmap, (256 >>> shift) / 8 bytes: bit c in byte c/8;
  *          none for order-0, whose one class is always written]
  *         [per present class: u8 lo][u8 cntMinus1][ceil(cnt/2) bytes: code
  *          lengths of symbols lo..lo+cnt-1 as nibbles, 0 = absent]
  *         [varint nSymbols][packed MSB-first canonical codes]
  * The [lo, cnt) range bounds the alphabet actually present, so a short
  * lowercase-text block pays ~48 header bytes instead of 130. An empty
  * order-0 input writes lo = 255, cnt = 1 and length 0.
  * Code lengths are capped at 15 by the classic frequency-halving retry.
  *
  * Decode goes through `Tables`: per present class, a fast lookup table
  * min(maxLen, 12) bits wide (at most 8 KB, cache-resident), narrower when
  * a frame's classes would together need more than 4 entries per coded
  * symbol; longer codes finish on the canonical first-code limits. Lengths
  * that oversubscribe the code space are rejected.
  */
object Huffman {
  final val MaxLen = 15
  final val Order0 = 8
  final val Order1 = 3
  final val Order1Full = 0
  /** Index width of the per-class fast lookup table. */
  private final val FastBits = 12
  /** The shared model: 32 classes x 256 nibble-packed code lengths. */
  final val ModelBytes = 32 * 128

  /** Code lengths (0 = unused) for the 256-symbol alphabet. */
  def codeLengths(freq0: Array[Long]): Array[Int] = {
    val freq = java.util.Arrays.copyOf(freq0, 256)
    while (true) {
      val lens = treeLengths(freq)
      if (lens.forall(_ <= MaxLen)) return lens
      // halve (keeping nonzero) and retry — flattens the distribution
      var i = 0
      while (i < 256) {
        if (freq(i) > 0) freq(i) = (freq(i) + 1) >> 1
        i += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def treeLengths(freq: Array[Long]): Array[Int] = {
    // node arrays: 256 leaves + up to 255 internal
    val n = 512
    val parent = new Array[Int](n)
    val weight = new Array[Long](n)
    val pq = new java.util.PriorityQueue[Int](16,
      (a: Int, b: Int) => {
        val c = java.lang.Long.compare(weight(a), weight(b))
        if (c != 0) c else Integer.compare(a, b) // deterministic ties
      })
    var i = 0
    var leaves = 0
    while (i < 256) {
      if (freq(i) > 0) { weight(i) = freq(i); pq.add(i); leaves += 1 }
      i += 1
    }
    val lens = new Array[Int](256)
    if (leaves == 0) return lens
    if (leaves == 1) { lens(pq.poll()) = 1; return lens }
    var next = 256
    while (pq.size() > 1) {
      val a = pq.poll(); val b = pq.poll()
      weight(next) = weight(a) + weight(b)
      parent(a) = next; parent(b) = next
      pq.add(next)
      next += 1
    }
    val root = pq.poll()
    i = 0
    while (i < 256) {
      if (freq(i) > 0) {
        var d = 0
        var node = i
        while (node != root) { node = parent(node); d += 1 }
        lens(i) = d
      }
      i += 1
    }
    lens
  }

  /** Canonical code values from lengths (symbols sorted by (len, symbol)). */
  def canonicalCodes(lens: Array[Int]): Array[Int] = {
    val words = new Array[Int](256)
    assignCodes(lens, 0, words, new Array[Int](MaxLen + 1), new Array[Int](MaxLen + 1))
    words.map(_ >>> 4)
  }

  /** The one code builder: canonical codes for the 256 lengths at
    * lens(off..off+255), by counting sort, into words(off..) as code << 4 |
    * len (0 for an absent symbol). Leaves the number of codes of each length
    * in cnt and the first code of each length in first. */
  private def assignCodes(lens: Array[Int], off: Int, words: Array[Int],
                          first: Array[Int], cnt: Array[Int]): Unit = {
    java.util.Arrays.fill(cnt, 0)
    var s = 0
    while (s < 256) { cnt(lens(off + s)) += 1; s += 1 }
    val next = new Array[Int](MaxLen + 1)
    var code = 0
    var l = 1
    while (l <= MaxLen) {
      first(l) = code
      next(l) = code
      code = (code + cnt(l)) << 1
      l += 1
    }
    s = 0
    while (s < 256) {
      val l = lens(off + s)
      if (l > 0) { words(off + s) = (next(l) << 4) | l; next(l) += 1 }
      s += 1
    }
  }

  // ---- length header: the one writer and the one reader ----------------------

  /** lens(off..off+cnt-1) as nibbles, two per byte, high nibble first,
    * into the zeroed out(p0..); returns the next write position. */
  private def packNibbles(lens: Array[Int], off: Int, cnt: Int,
                          out: Array[Byte], p0: Int): Int = {
    var i = 0
    while (i < cnt) {
      out(p0 + (i >> 1)) = (out(p0 + (i >> 1)) | (lens(off + i) << ((~i & 1) << 2))).toByte
      i += 1
    }
    p0 + (cnt + 1) / 2
  }

  private def unpackNibbles(bytes: Array[Byte], p0: Int, lens: Array[Int],
                            off: Int, cnt: Int): Int = {
    var i = 0
    while (i < cnt) {
      lens(off + i) = (bytes(p0 + (i >> 1)) >> ((~i & 1) << 2)) & 0xf
      i += 1
    }
    p0 + (cnt + 1) / 2
  }

  /** lo << 16 | cnt: the range of the class at lens(off..) that holds codes,
    * 255 and 1 for an empty class. */
  private def range(lens: Array[Int], off: Int): Int = {
    var lo = 0
    while (lo < 255 && lens(off + lo) == 0) lo += 1
    var hi = 255
    while (hi > lo && lens(off + hi) == 0) hi -= 1
    (lo << 16) | (hi - lo + 1)
  }

  /** [u8 lo][u8 cntMinus1][nibbles] for the class at lens(off..). */
  private def writeHeader(lens: Array[Int], off: Int, out: Array[Byte], p: Int): Int = {
    val r = range(lens, off)
    out(p) = (r >>> 16).toByte
    out(p + 1) = ((r & 0xffff) - 1).toByte
    packNibbles(lens, off + (r >>> 16), r & 0xffff, out, p + 2)
  }

  private def readHeader(bytes: Array[Byte], p: Int, until: Int,
                         lens: Array[Int], off: Int): Int = {
    if (p + 2 > until) throw TruncatedException
    val lo = bytes(p) & 0xff
    val cnt = (bytes(p + 1) & 0xff) + 1
    if (lo + cnt > 256) throw CorruptException("huffman alphabet range")
    if (p + 2 + (cnt + 1) / 2 > until) throw TruncatedException
    unpackNibbles(bytes, p + 2, lens, off + lo, cnt)
  }

  // ---- encode ----------------------------------------------------------------

  /** Order-0 block of `data`. */
  def encode(data: Array[Byte]): Array[Byte] = encode(data, Order0)

  /** Encode `data` (bytes as symbols) under the model `shift`; returns the
    * framed block. The block size is known before any byte is written
    * (header + ceil(sum of freq * codeLen / 8)), so the output is allocated
    * once at its exact size and the code stream goes straight into it. */
  def encode(data: Array[Byte], shift: Int): Array[Byte] =
    encodeAt(data, shift, 0, 0, Int.MaxValue)

  /** The order-0 block of `data` at out(pre) of an array with `post` bytes
    * after it (a frame around the block, filled in by the caller), or null
    * without coding when that array would be `limit` bytes or longer. */
  private[codec] def encodeFramed(data: Array[Byte], pre: Int, post: Int,
                                  limit: Int): Array[Byte] =
    encodeAt(data, Order0, pre, post, limit)

  private def encodeAt(data: Array[Byte], shift: Int, pre: Int, post: Int,
                       limit: Int): Array[Byte] = {
    val nClass = 256 >>> shift
    val freq = new Array[Int](nClass << 8)
    var prev = 0
    var i = 0
    while (i < data.length) {
      val s = data(i) & 0xff
      freq(((prev >>> shift) << 8) | s) += 1
      prev = s
      i += 1
    }
    // lengths and code words by class << 8 | symbol; a class is written
    // when a symbol is coded in it, and order-0's always is
    val lens = new Array[Int](nClass << 8)
    val words = new Array[Int](nClass << 8)
    val present = new Array[Boolean](nClass)
    var size = (if (nClass == 1) 0 else nClass >>> 3) + Varint.len(data.length.toLong)
    var bits = 0L
    val f = new Array[Long](256) // one class's counts; codeLengths copies it
    var c = 0
    while (c < nClass) {
      val off = c << 8
      present(c) = nClass == 1
      var s = 0
      while (s < 256) { f(s) = freq(off + s); if (f(s) > 0) present(c) = true; s += 1 }
      if (present(c)) {
        System.arraycopy(codeLengths(f), 0, lens, off, 256)
        assignCodes(lens, off, words, new Array[Int](MaxLen + 1), new Array[Int](MaxLen + 1))
        size += 2 + ((range(lens, off) & 0xffff) + 1) / 2
        s = 0
        while (s < 256) { bits += f(s) * lens(off + s); s += 1 }
      }
      c += 1
    }
    val total = pre + size + ((bits + 7) >>> 3) + post
    if (total >= limit) return null
    val out = new Array[Byte](total.toInt)
    var p = pre + (if (nClass == 1) 0 else nClass >>> 3)
    c = 0
    while (c < nClass) { // the present bitmap and the length headers
      if (present(c)) {
        if (nClass > 1) out(pre + (c >>> 3)) = (out(pre + (c >>> 3)) | (1 << (c & 7))).toByte
        p = writeHeader(lens, c << 8, out, p)
      }
      c += 1
    }
    p = Varint.write(out, p, data.length.toLong)
    p = writeBits(data, shift, words, out, p)
    require(p == out.length - post,
      s"huffman size model mismatch: wrote $p, predicted ${out.length - post}")
    out
  }

  /** The one bit writer: `data`'s codes MSB-first from out(p0), each symbol
    * coded with words(class << 8 | symbol), its class that of the byte
    * before it (class 0 for order-0); returns the end position.
    * Three codes (at most 45 bits) join the fewer than 8 pending bits in
    * the low end of a 64-bit word with no test between them, then every
    * whole byte goes out in one big-endian 64-bit store; the bytes past
    * them are rewritten by the next store (or, past the block's end, by the
    * caller's frame). The last 8 bytes of `out`, which such a store would
    * overrun, are written a byte at a time. */
  private def writeBits(data: Array[Byte], shift: Int, words: Array[Int],
                        out: Array[Byte], p0: Int): Int = {
    val bb = java.nio.ByteBuffer.wrap(out) // big-endian
    val fastEnd = out.length - 8
    var p = p0
    var acc = 0L
    var nBits = 0
    var prev = 0
    var i = 0
    val n3 = data.length - 2
    while (i < n3 && p <= fastEnd) {
      val s0 = data(i) & 0xff
      val s1 = data(i + 1) & 0xff
      val s2 = data(i + 2) & 0xff
      val e0 = words(((prev >>> shift) << 8) | s0)
      val e1 = words(((s0 >>> shift) << 8) | s1)
      val e2 = words(((s1 >>> shift) << 8) | s2)
      acc = (acc << (e0 & 0xf)) | (e0 >>> 4).toLong
      acc = (acc << (e1 & 0xf)) | (e1 >>> 4).toLong
      acc = (acc << (e2 & 0xf)) | (e2 >>> 4).toLong
      nBits += (e0 & 0xf) + (e1 & 0xf) + (e2 & 0xf)
      bb.putLong(p, acc << (64 - nBits))
      p += nBits >>> 3
      nBits &= 7
      prev = s2
      i += 3
    }
    while (i < data.length) {
      val s = data(i) & 0xff
      val e = words(((prev >>> shift) << 8) | s)
      acc = (acc << (e & 0xf)) | (e >>> 4).toLong
      nBits += e & 0xf
      while (nBits >= 8) {
        nBits -= 8
        out(p) = (acc >>> nBits).toByte
        p += 1
      }
      prev = s
      i += 1
    }
    if (nBits > 0) { out(p) = (acc << (8 - nBits)).toByte; p += 1 }
    p
  }

  // ---- decode ----------------------------------------------------------------

  /** Code and decode tables of one model: for each present class its codes,
    * a fast lookup table and the canonical first-code limits. Immutable once
    * built, so one instance serves every thread.
    *
    * The fast tables together hold at most `budget` entries: when 2^min(
    * maxLen, 12) per class would be more, every class's table is narrowed
    * to the same smaller width, and longer codes finish on the limits. A
    * frame with many dense contexts (full order-1 over varied bytes) then
    * builds tables in proportion to what it decodes, not 4,096 entries for
    * each of up to 256 classes. */
  final class Tables private[Huffman] (private[Huffman] val shift: Int,
                                       slot: Array[Int], lens: Array[Int],
                                       budget: Int) {
    /** code << 4 | len per present class and symbol. */
    private[Huffman] val words = new Array[Int](lens.length)
    /** Per class: fastOff << 8 | fastBits << 4 | maxLen, or -1 if absent. */
    private[Huffman] val info = Array.fill(slot.length)(-1)
    /** Per class and length (class << 4 | len): one past the last code of
      * that length, and the `sorted` index of code 0 of that length. */
    private val limit = new Array[Int](slot.length << 4)
    private val base = new Array[Int](slot.length << 4)
    /** Per present class: its symbols in canonical order. */
    private val sorted = new Array[Byte](lens.length)
    /** Per present class: 2^fastBits entries of sym << 4 | len, 0 where the
      * code is longer than fastBits. */
    private[Huffman] val fast: Array[Short] = {
      val first = new Array[Int](MaxLen + 1)
      val cnt = new Array[Int](MaxLen + 1)
      var size = 0
      var c = 0
      while (c < slot.length) { // codes, limits and the fast table's place
        val off = slot(c) << 8
        if (off >= 0) {
          assignCodes(lens, off, words, first, cnt)
          var kraft = 0
          var maxLen = 0
          var rank = off
          var l = 1
          while (l <= MaxLen) {
            if (cnt(l) > 0) maxLen = l
            kraft += cnt(l) << (MaxLen - l)
            limit((c << 4) | l) = first(l) + cnt(l)
            base((c << 4) | l) = rank - first(l)
            rank += cnt(l)
            l += 1
          }
          if (kraft > (1 << MaxLen)) throw CorruptException("huffman code table")
          info(c) = maxLen
        }
        c += 1
      }
      // the widest common cap on the fast index that keeps to the budget
      var cap = FastBits
      while (cap > 1 && fastEntries(cap) > budget) cap -= 1
      c = 0
      while (c < slot.length) { // each present class's fast table's place
        if (info(c) >= 0) {
          val fb = math.min(info(c), cap)
          info(c) = (size << 8) | (fb << 4) | info(c)
          size += 1 << fb
        }
        c += 1
      }
      val table = new Array[Short](size)
      c = 0
      while (c < slot.length) { // canonical order and fast entries
        val off = slot(c) << 8
        val fb = (info(c) >>> 4) & 0xf
        var s = 0
        while (off >= 0 && s < 256) {
          val l = lens(off + s)
          if (l > 0) sorted(base((c << 4) | l) + (words(off + s) >>> 4)) = s.toByte
          if (l > 0 && l <= fb) {
            val at = (info(c) >>> 8) + ((words(off + s) >>> 4) << (fb - l))
            java.util.Arrays.fill(table, at, at + (1 << (fb - l)), ((s << 4) | l).toShort)
          }
          s += 1
        }
        c += 1
      }
      table
    }

    /** Fast entries of all present classes (`info` holding each one's
      * maxLen) with the index capped at `cap` bits. */
    private def fastEntries(cap: Int): Long = {
      var total = 0L
      var c = 0
      while (c < info.length) {
        if (info(c) >= 0) total += 1L << math.min(info(c), cap)
        c += 1
      }
      total
    }

    /** sym << 4 | len of the code that begins the maxLen-bit window w of
      * class c, when no code of at most fastBits bits does. */
    private[Huffman] def slowEntry(c: Int, w: Int): Int = {
      val k = info(c) & 0xf
      var l = ((info(c) >>> 4) & 0xf) + 1
      while (l <= k) {
        val code = w >>> (k - l)
        val i = (c << 4) | l
        if (code < limit(i)) return ((sorted(base(i) + code) & 0xff) << 4) | l
        l += 1
      }
      throw CorruptException("huffman code overrun")
    }
  }

  /** Order-0 decode of a block framed by encode() occupying [from, until). */
  def decode(bytes: Array[Byte], from: Int, until: Int): Array[Byte] =
    decode(bytes, from, until, Order0)

  /** Decode a block framed by encode(_, shift) occupying [from, until). */
  def decode(bytes: Array[Byte], from: Int, until: Int, shift: Int): Array[Byte] = {
    val nClass = 256 >>> shift
    var p = if (nClass == 1) from else from + (nClass >>> 3)
    if (p > until) throw TruncatedException
    var nSlots = 0
    val slot = Array.tabulate(nClass) { c =>
      if (nClass > 1 && ((bytes(from + (c >>> 3)) >> (c & 7)) & 1) == 0) -1
      else { nSlots += 1; nSlots - 1 }
    }
    val lens = new Array[Int](nSlots << 8)
    var sl = 0
    while (sl < nSlots) { p = readHeader(bytes, p, until, lens, sl << 8); sl += 1 }
    val r = new Varint.Reader(bytes, p, until)
    val count = r.read()
    if (count < 0 || count > Int.MaxValue) throw CorruptException("huffman count")
    // every symbol consumes >= 1 bit, so a count beyond the remaining bits
    // is corruption — reject BEFORE allocating (a mutated count varint must
    // not become a multi-GB allocation)
    if (count > (until - r.pos).toLong * 8) throw TruncatedException
    val t = new Tables(shift, slot, lens, math.max(1 << FastBits, 4 * count.toInt))
    val out = new Array[Byte](count.toInt)
    if (nClass == 1) decodeOrder0(t, bytes, r.pos, until, out)
    else decodeContext(t, bytes, r.pos, until, out)
    out
  }

  // Two loops over one Tables. The order-0 loop keeps its one class's table
  // in registers; the context loop finds the table from the symbol it just
  // decoded, so each lookup waits on the one before it. Order-0 (the hpack
  // path behind every chunk read) ran about 40% slower through the context
  // loop (single thread, 4-core VM, 100-400 KB inputs). Both loops read
  // zero bytes past `until` and throw Truncated after the loop if a code
  // used them.

  private def decodeOrder0(t: Tables, bytes: Array[Byte], from: Int, until: Int,
                           out: Array[Byte]): Unit = {
    val k = t.info(0) & 0xf
    val fb = (t.info(0) >>> 4) & 0xf
    val fast = t.fast
    var p = from
    var acc = 0L
    var nBits = 0
    var o = 0
    while (o < out.length) {
      if (nBits < k) while (nBits <= 56) {
        acc = (acc << 8) | (if (p < until) bytes(p) & 0xffL else 0L)
        p += 1
        nBits += 8
      }
      var e: Int = fast((acc >>> (nBits - fb)).toInt & ((1 << fb) - 1))
      if (e == 0) e = t.slowEntry(0, (acc >>> (nBits - k)).toInt & ((1 << k) - 1))
      nBits -= e & 0xf
      out(o) = (e >>> 4).toByte
      o += 1
    }
    if ((p - until).toLong * 8 > nBits) throw TruncatedException
  }

  private def decodeContext(t: Tables, bytes: Array[Byte], from: Int, until: Int,
                            out: Array[Byte]): Unit = {
    val shift = t.shift
    val info = t.info
    val fast = t.fast
    var p = from
    var acc = 0L
    var nBits = 0
    var prev = 0
    var o = 0
    while (o < out.length) {
      val c = prev >>> shift
      val inf = info(c)
      if (inf < 0) throw CorruptException("huffman missing class")
      val k = inf & 0xf
      if (nBits < k) while (nBits <= 56) {
        acc = (acc << 8) | (if (p < until) bytes(p) & 0xffL else 0L)
        p += 1
        nBits += 8
      }
      val fb = (inf >>> 4) & 0xf
      var e: Int = fast((inf >>> 8) + ((acc >>> (nBits - fb)).toInt & ((1 << fb) - 1)))
      if (e == 0) e = t.slowEntry(c, (acc >>> (nBits - k)).toInt & ((1 << k) - 1))
      nBits -= e & 0xf
      prev = e >>> 4
      out(o) = prev.toByte
      o += 1
    }
    if ((p - until).toLong * 8 > nBits) throw TruncatedException
  }

  // ---- shared model ----------------------------------------------------------
  //
  // After front-coding, a per-chunk order-1 frame's length header is the
  // dominant FIXED cost of the doc_id meta section. The shared model is
  // trained ONCE per table (add-1 smoothed, so every byte is encodable in
  // every class), stored out-of-band, and each chunk carries only the
  // bitstream — the static recast of the reference's one-model-many-writes
  // stream mode (`_ppmdmodule.c` Ppmd7Encoder).

  def trainModel(sample: Array[Byte]): Array[Byte] = {
    val freq = Array.fill(32, 256)(1L)
    var prev = 0
    var i = 0
    while (i < sample.length) {
      val s = sample(i) & 0xff
      freq(prev >>> Order1)(s) += 1
      prev = s
      i += 1
    }
    val out = new Array[Byte](ModelBytes)
    var c = 0
    while (c < 32) { packNibbles(codeLengths(freq(c)), 0, 256, out, c * 128); c += 1 }
    out
  }

  /** The tables of a trained model: build them once per model and share. */
  def modelTables(model: Array[Byte]): Tables = {
    if (model == null || model.length != ModelBytes) throw CorruptException("o1 shared model size")
    val lens = new Array[Int](32 << 8)
    var c = 0
    while (c < 32) { unpackNibbles(model, c * 128, lens, c << 8, 256); c += 1 }
    if (lens.contains(0)) throw CorruptException("o1 shared model incomplete")
    new Tables(Order1, Array.range(0, 32), lens, Int.MaxValue)
  }

  /** Bitstream ONLY (no tables, no count — the caller's envelope carries the
    * byte count as its rawLen). Every model class is present, so its code
    * words sit at class << 8 | symbol. */
  def encodeBitsWithModel(t: Tables, data: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](((data.length.toLong * MaxLen + 7) >>> 3).toInt)
    java.util.Arrays.copyOf(out, writeBits(data, t.shift, t.words, out, 0))
  }

  /** `count` bytes of a bitstream from encodeBitsWithModel in [from, until). */
  def decodeBits(t: Tables, bytes: Array[Byte], from: Int, until: Int,
                 count: Int): Array[Byte] = {
    if (count < 0 || count.toLong > (until - from).toLong * 8) throw TruncatedException
    val out = new Array[Byte](count)
    decodeContext(t, bytes, from, until, out)
    out
  }
}
