package graft.engine

import graft.codec.{Huffman, TokenCodec, Varint}

/** Per-chunk token CONTAINMENT sketch — the zone map's second level. min/max
  * bounds prune probes outside the chunk's value range, but on a zipf vocab
  * most chunks span nearly the whole range, so an in-vocab rare-token probe
  * would still decode every chunk. This sketch answers "might token t occur
  * in this chunk?" from the manifest alone:
  *
  *  - mode 1 (exact bitmap): when the chunk's value range (max_tok-min_tok)
  *    fits 2^16, a plain bitset over [min_tok, max_tok] — at most 8 KB,
  *    ZERO false positives. The real token domain (vocab 50k) always takes
  *    this path, so containment pruning is exact, not probabilistic.
  *  - mode 3 (cardinality-scaled Bloom): arbitrary int domains (fuzz,
  *    foreign data) get a k=4 Bloom sized from the chunk's DISTINCT count
  *    at ~10 bits/key (~1% FP), clamped to [2 KB, 128 KB]. The r2/r3 fixed
  *    2 KB filter (mode 2, still decoded for old manifests) saturated to
  *    ~100% FP beyond ~3k distinct values, costing all pruning power on
  *    wide int domains; false positives only cost a wasted decode, never a
  *    missed row.
  *
  *  - mode 4 (packed bitmap, on disk only): the manifest form of mode 1,
  *    `[4][varint range][Huffman order-0 of the bitmap bytes][u32 CRC32 of
  *    the mode-1 sketch]`. `pack` writes it when it is smaller than mode 1
  *    (a zipf chunk's bitmap codes about 55% smaller) and `unpack` turns it
  *    back into mode 1 as the manifest line is parsed, so every sketch in
  *    memory is mode 1, 2 or 3. A mode-4 sketch that does not decode to a
  *    bitmap of its range with a matching CRC unpacks to the empty sketch.
  *
  * An EMPTY sketch (old chunks/manifests written before this existed) means
  * "unknown": mightContain returns true, pruning degrades to min/max only.
  * The leading mode byte versions the format — old readers fail OPEN on
  * modes 3 and 4 (the `case _` arm), old mode-2 sketches stay readable
  * here.
  * Reference analog: this is the engine's answer to selective chunked
  * decode (`/root/reference/tests/test_ppmd7.py:95-146`) for content
  * predicates rather than offsets. */
object TokenSketch {

  final val BitmapMaxRange = 1 << 16 // 8 KB ceiling for the exact mode
  final val BloomBits = 1 << 14      // 2 KB legacy mode-2 Bloom (read-only)
  final val BloomK = 4
  final val BloomBitsPerKey = 10     // with k=4: ~1% FP at full load
  final val BloomMinBits = 1 << 14   // 2 KB floor
  final val BloomMaxBits = 1 << 20   // 128 KB ceiling (~100k distinct @1%)

  /** Build from a chunk's token values and its (already computed) bounds.
    * Empty chunks get an empty sketch — their inverted min/max sentinels
    * already exclude every probe before the sketch is consulted. */
  def build(tokens: Array[Int], minTok: Int, maxTok: Int): Array[Byte] = {
    if (tokens.isEmpty) return Array.emptyByteArray
    val range = maxTok.toLong - minTok.toLong + 1L
    if (range <= BitmapMaxRange) {
      val words = new Array[Long](((range + 63) >>> 6).toInt)
      var i = 0
      while (i < tokens.length) {
        val off = tokens(i) - minTok
        words(off >>> 6) |= 1L << off
        i += 1
      }
      fromBitmap(words, minTok, maxTok)
    } else {
      // mode 3: size the filter from the chunk's distinct count. A sort of
      // a copy is O(n log n) on at most chunkTokens ints — noise next to
      // the encode — and the count can stop once the ceiling is reached
      // (beyond it the size is pinned at BloomMaxBits anyway).
      val capDistinct = BloomMaxBits / BloomBitsPerKey + 1
      val sorted = tokens.clone()
      java.util.Arrays.sort(sorted)
      var distinct = 1
      var i = 1
      while (i < sorted.length && distinct < capDistinct) {
        if (sorted(i) != sorted(i - 1)) distinct += 1
        i += 1
      }
      val want = distinct.toLong * BloomBitsPerKey
      var bits = BloomMinBits
      while (bits < want && bits < BloomMaxBits) bits <<= 1
      val nBytes = bits >>> 3
      val head = new Array[Byte](1 + 5)
      head(0) = 3
      val bodyAt = Varint.write(head, 1, nBytes.toLong)
      val out = new Array[Byte](bodyAt + nBytes)
      System.arraycopy(head, 0, out, 0, bodyAt)
      i = 0
      while (i < tokens.length) {
        // double hashing (Kirsch–Mitzenmacher): 4 probes from one 64-bit
        // mix — unlike the legacy shift-walk, independent of the bit width
        val h = mix(tokens(i).toLong)
        val h2 = (h >>> 32) | 1L
        var k = 0
        while (k < BloomK) {
          val bit = ((h + k.toLong * h2) & (bits - 1)).toInt
          out(bodyAt + (bit >>> 3)) =
            (out(bodyAt + (bit >>> 3)) | (1 << (bit & 7))).toByte
          k += 1
        }
        i += 1
      }
      out
    }
  }

  /** The mode-1 sketch of a chunk whose distinct tokens are `distinct`, a
    * bitmap over [minTok, maxTok] (bit k of word w is the token
    * minTok + 64w + k) whose range fits `BitmapMaxRange`: the bytes `build`
    * writes for that chunk, the words stored little-endian. */
  def fromBitmap(distinct: Array[Long], minTok: Int, maxTok: Int): Array[Byte] = {
    val range = maxTok.toLong - minTok.toLong + 1L
    require(range <= BitmapMaxRange && distinct.length == ((range + 63) >>> 6),
      s"bitmap of ${distinct.length} words for range $range")
    val nBytes = ((range + 7) / 8).toInt
    val head = Varint.len(range) + 1
    val out = new Array[Byte](head + nBytes)
    out(0) = 1
    Varint.write(out, 1, range)
    var j = 0
    while (j < nBytes) {
      out(head + j) = (distinct(j >>> 3) >>> ((j & 7) << 3)).toByte
      j += 1
    }
    out
  }

  /** Consult the sketch; `true` means "must decode". Fails OPEN on anything
    * structurally unreadable — empty, unknown mode, or a sketch whose body
    * is shorter than its declared mode requires (a truncated/corrupted
    * manifest entry must cost at most a wasted decode, NEVER a silently
    * dropped row; the per-chunk CRC on the data path still catches real
    * corruption loudly). The caller has already applied the min/max bounds,
    * so `tok` is inside [minTok, maxTok] when this is called with mode 1. */
  def mightContain(sketch: Array[Byte], minTok: Int, tok: Int): Boolean = {
    if (sketch == null || sketch.length == 0) return true
    sketch(0) match {
      case 1 =>
        val r = new Varint.Reader(sketch)
        r.pos = 1
        val range = try r.read() catch { case _: Exception => return true }
        if (range <= 0 || range > BitmapMaxRange ||
            r.pos + ((range + 7) / 8).toInt > sketch.length)
          return true // truncated/garbled bitmap: fail open
        val off = tok.toLong - minTok.toLong
        if (off < 0 || off >= range) false
        else {
          val idx = r.pos + (off >>> 3).toInt
          ((sketch(idx) >> (off & 7).toInt) & 1) != 0
        }
      case 2 => // legacy fixed-size bloom (pre-r4 manifests)
        if (sketch.length < 1 + BloomBits / 8) return true // truncated bloom
        var h = mix(tok.toLong)
        var k = 0
        var all = true
        while (k < BloomK && all) {
          val bit = (h & (BloomBits - 1)).toInt
          all = ((sketch(1 + (bit >>> 3)) >> (bit & 7)) & 1) != 0
          h = h >>> 14
          k += 1
        }
        all
      case 3 =>
        val r = new Varint.Reader(sketch)
        r.pos = 1
        val nBytes = (try r.read() catch { case _: Exception => return true }).toInt
        val bits = nBytes.toLong * 8
        // fail open on anything garbled: non-positive/oversized body,
        // non-power-of-two width (the mask below requires it), truncation
        if (nBytes <= 0 || nBytes > BloomMaxBits / 8 ||
            java.lang.Long.bitCount(bits) != 1 ||
            r.pos + nBytes > sketch.length)
          return true
        val base = r.pos
        val h = mix(tok.toLong)
        val h2 = (h >>> 32) | 1L
        var k = 0
        var all = true
        while (k < BloomK && all) {
          val bit = ((h + k.toLong * h2) & (bits - 1)).toInt
          all = ((sketch(base + (bit >>> 3)) >> (bit & 7)) & 1) != 0
          k += 1
        }
        all
      case _ => true // future mode: never prune what we can't read
    }
  }

  /** The on-disk form of `sk`: a mode-1 sketch becomes mode 4 when that is
    * smaller; every other sketch (and a mode-1 sketch whose bitmap does not
    * match its range) is returned as is. */
  def pack(sk: Array[Byte]): Array[Byte] = {
    if (sk.length == 0 || sk(0) != 1) return sk
    val r = new Varint.Reader(sk)
    r.pos = 1
    val range = try r.read() catch { case _: Exception => return sk }
    val bitsAt = r.pos
    if (range <= 0 || range > BitmapMaxRange ||
        sk.length - bitsAt != ((range + 7) / 8).toInt) return sk
    val body = Huffman.encode(java.util.Arrays.copyOfRange(sk, bitsAt, sk.length))
    if (bitsAt + body.length + 4 >= sk.length) return sk
    val out = java.util.Arrays.copyOf(sk, bitsAt + body.length + 4)
    out(0) = 4
    System.arraycopy(body, 0, out, bitsAt, body.length)
    TokenCodec.writeIntLE(out, out.length - 4, crc(sk))
    out
  }

  /** The in-memory form of an on-disk sketch: mode 4 back to its mode-1
    * bytes, anything else as is. A mode-4 sketch that is truncated or
    * corrupt becomes the empty "unknown" sketch — never a wrong bitmap,
    * which could deny a token the chunk holds. Never throws. */
  def unpack(sk: Array[Byte]): Array[Byte] = {
    if (sk.length == 0 || sk(0) != 4) return sk
    try {
      val r = new Varint.Reader(sk, 1, sk.length - 4)
      val range = r.read()
      if (range <= 0 || range > BitmapMaxRange) return Array.emptyByteArray
      val bits = Huffman.decode(sk, r.pos, sk.length - 4)
      if (bits.length != ((range + 7) / 8).toInt) return Array.emptyByteArray
      val out = new Array[Byte](r.pos + bits.length)
      System.arraycopy(sk, 0, out, 0, r.pos)
      out(0) = 1
      System.arraycopy(bits, 0, out, r.pos, bits.length)
      if (crc(out) != TokenCodec.readIntLE(sk, sk.length - 4)) Array.emptyByteArray else out
    } catch { case _: Exception => Array.emptyByteArray }
  }

  private def crc(b: Array[Byte]): Int = {
    val c = new java.util.zip.CRC32()
    c.update(b, 0, b.length)
    c.getValue.toInt
  }

  private def mix(z0: Long): Long = {
    var z = z0 ^ 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
