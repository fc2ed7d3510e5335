package graft.codec

/** Canonical static Huffman coder over a byte alphabet (0..255) — the
  * entropy stage behind FSST (Fsst mode 3). The reference's PPMd reaches
  * ~0.15 on text by adaptive context modeling + range coding
  * (`/root/reference/src/lib/ppmd/Ppmd7Enc.c`); this engine deliberately
  * trades that for a static two-stage pipeline (symbol table + order-0
  * entropy code) that is one sequential pass each way, branch-light, and
  * trivially chunk-parallel — the Spark-side throughput/ratio point
  * SURVEY.md §4.1 argues for.
  *
  * Format: [u8 lo][u8 cntMinus1][ceil(cnt/2) bytes: code lengths of symbols
  *         lo..lo+cnt-1 as nibbles, 0 = absent]
  *         [varint nSymbols][packed MSB-first canonical codes]
  * The [lo, cnt) range bounds the alphabet actually present, so a short
  * lowercase-text block pays ~48 header bytes instead of 130.
  * Code lengths are capped at 15 by the classic frequency-halving retry.
  */
object Huffman {
  final val MaxLen = 15

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
    val codes = new Array[Int](256)
    var code = 0
    var len = 1
    while (len <= MaxLen) {
      var s = 0
      while (s < 256) {
        if (lens(s) == len) { codes(s) = code; code += 1 }
        s += 1
      }
      code <<= 1
      len += 1
    }
    codes
  }

  /** Encode `data` (bytes as symbols); returns the framed block. The block
    * size is known before any byte is written (header + ceil(sum of
    * freq * codeLen / 8)), so the output is allocated once at its exact size
    * and the code stream goes straight into it, 32 bits at a time. */
  def encode(data: Array[Byte]): Array[Byte] = {
    val freq = new Array[Long](256)
    var i = 0
    while (i < data.length) { freq(data(i) & 0xff) += 1; i += 1 }
    val lens = codeLengths(freq)
    val codes = canonicalCodes(lens)
    // alphabet range actually present (empty input -> degenerate [0,1) range)
    var lo = 0
    while (lo < 255 && lens(lo) == 0) lo += 1
    var hi = 255
    while (hi > lo && lens(hi) == 0) hi -= 1
    val cnt = hi - lo + 1
    var bits = 0L
    i = 0
    while (i < 256) { bits += freq(i) * lens(i); i += 1 }
    val header = 2 + (cnt + 1) / 2 + Varint.len(data.length.toLong)
    val out = new Array[Byte](header + ((bits + 7) >>> 3).toInt)
    out(0) = lo.toByte
    out(1) = (cnt - 1).toByte
    var p = 2
    i = lo
    while (i <= hi) { // two nibbles per byte
      val a = lens(i)
      val b = if (i + 1 <= hi) lens(i + 1) else 0
      out(p) = ((a << 4) | b).toByte
      p += 1
      i += 2
    }
    p = Varint.write(out, p, data.length.toLong)
    // MSB-first: the low nBits of acc are pending; codes are <= 15 bits, so
    // draining at 32 keeps at most 46 pending
    var acc = 0L
    var nBits = 0
    i = 0
    while (i < data.length) {
      val s = data(i) & 0xff
      acc = (acc << lens(s)) | codes(s).toLong
      nBits += lens(s)
      if (nBits >= 32) {
        nBits -= 32
        val w = (acc >>> nBits).toInt
        out(p) = (w >>> 24).toByte
        out(p + 1) = (w >>> 16).toByte
        out(p + 2) = (w >>> 8).toByte
        out(p + 3) = w.toByte
        p += 4
      }
      i += 1
    }
    while (nBits >= 8) {
      nBits -= 8
      out(p) = (acc >>> nBits).toByte
      p += 1
    }
    if (nBits > 0) { out(p) = (acc << (8 - nBits)).toByte; p += 1 }
    require(p == out.length, s"huffman size model mismatch: wrote $p, predicted ${out.length}")
    out
  }

  /** Decode a block framed by encode() occupying [from, until). */
  def decode(bytes: Array[Byte], from: Int, until: Int): Array[Byte] = {
    if (until - from < 3) throw TruncatedException
    val lo = bytes(from) & 0xff
    val cnt = (bytes(from + 1) & 0xff) + 1
    if (lo + cnt > 256) throw CorruptException("huffman alphabet range")
    var p = from + 2
    if (p + (cnt + 1) / 2 > until) throw TruncatedException
    val lens = new Array[Int](256)
    var i = 0
    while (i < cnt) {
      val b = bytes(p) & 0xff
      lens(lo + i) = b >>> 4
      if (i + 1 < cnt) lens(lo + i + 1) = b & 0xf
      i += 2
      p += 1
    }
    // varint count
    var n = 0L
    var shift = 0
    var more = true
    while (more) {
      if (p >= until) throw TruncatedException
      val b = bytes(p) & 0xff
      p += 1
      n |= (b & 0x7fL) << shift
      shift += 7
      more = (b & 0x80) != 0
      if (shift > 42) throw CorruptException("huffman count varint")
    }
    val count = n.toInt
    if (count < 0) throw CorruptException("huffman count")
    // every symbol consumes >= 1 bit, so a count beyond the remaining bits
    // is corruption — reject BEFORE allocating (a mutated count varint must
    // not become a multi-GB allocation)
    if (count > (until - p).toLong * 8) throw TruncatedException
    // Table-driven canonical decode: one MaxLen-bit window lookup per
    // symbol (entry = sym<<4 | len; 0 = no code owns the prefix). The
    // 2^15-entry table costs one 32K fill, amortized over the block (hpack
    // never wraps frames under 1 KiB) and ~8x faster than walking the
    // code bit-by-bit — this path decodes every hpack'd chunk.
    val codes = canonicalCodes(lens)
    val table = new Array[Short](1 << MaxLen)
    var s = 0
    while (s < 256) {
      val l = lens(s)
      if (l > 0) {
        val base = codes(s) << (MaxLen - l)
        val span = 1 << (MaxLen - l)
        if (base < 0 || base + span > table.length)
          throw CorruptException("huffman code table")
        val e = ((s << 4) | l).toShort
        java.util.Arrays.fill(table, base, base + span, e)
      }
      s += 1
    }
    val out = new Array[Byte](count)
    var acc = 0L
    var nBits = 0
    var o = 0
    while (o < count) {
      while (nBits < MaxLen && p < until) {
        acc = (acc << 8) | (bytes(p) & 0xffL)
        p += 1
        nBits += 8
      }
      val window =
        if (nBits >= MaxLen) ((acc >>> (nBits - MaxLen)) & 0x7fff).toInt
        else ((acc << (MaxLen - nBits)) & 0x7fff).toInt // zero-padded tail
      val e = table(window) & 0xffff
      val l = e & 0xf
      if (l == 0) throw CorruptException("huffman code overrun")
      if (l > nBits) throw TruncatedException // code ran into the padding
      nBits -= l
      out(o) = (e >>> 4).toByte
      o += 1
    }
    out
  }
}
