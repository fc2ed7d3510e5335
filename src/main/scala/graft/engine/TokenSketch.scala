package graft.engine

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
  * An EMPTY sketch (old chunks/manifests written before this existed) means
  * "unknown": mightContain returns true, pruning degrades to min/max only.
  * The leading mode byte versions the format — old readers fail OPEN on
  * mode 3 (the `case _` arm), old mode-2 sketches stay readable here.
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
      val nBytes = ((range + 7) / 8).toInt
      val out = new Array[Byte](1 + 5 + nBytes) // worst-case varint(range)
      out(0) = 1
      var pos = graft.codec.Varint.write(out, 1, range)
      val bitBase = pos
      var i = 0
      while (i < tokens.length) {
        val off = tokens(i) - minTok
        out(bitBase + (off >>> 3)) = (out(bitBase + (off >>> 3)) | (1 << (off & 7))).toByte
        i += 1
      }
      java.util.Arrays.copyOf(out, bitBase + nBytes)
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
      val bodyAt = graft.codec.Varint.write(head, 1, nBytes.toLong)
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
        val r = new graft.codec.Varint.Reader(sketch)
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
        val r = new graft.codec.Varint.Reader(sketch)
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

  private def mix(z0: Long): Long = {
    var z = z0 ^ 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
