package graft.codec

/** Order-1 canonical Huffman with FULL byte context: each symbol is coded
  * with a table selected by the exact previous byte (256 contexts), vs
  * HuffmanO1's 32 merged classes (prev >> 3). Table overhead is paid only
  * for contexts that occur (32-byte present bitmap + per-present-context
  * trimmed nibble-packed lengths), so on small-alphabet streams — the
  * word-model id stream of Fsst mode 8 — the full conditioning is nearly free
  * and captures first-order structure the merged classes blur away. This is
  * the static analog of the reference's order-N context mixing
  * (`/root/reference/src/lib/ppmd/Ppmd7.c` SEE/escape chain) one step up
  * from HuffmanO1.
  *
  * Format: [32-byte present bitmap over the 256 contexts]
  *         [per present context: u8 lo, u8 cntMinus1, nibble-packed lens]
  *         [varint nSymbols][MSB-first bitstream; ctx of symbol 0 = 0]
  */
object HuffmanO1Wide {
  final val NClass = 256

  def encode(data: Array[Byte]): Array[Byte] = {
    val freq = Array.ofDim[Long](NClass, 256)
    var prev = 0
    var i = 0
    while (i < data.length) {
      freq(prev)(data(i) & 0xff) += 1
      prev = data(i) & 0xff
      i += 1
    }
    val lens = new Array[Array[Int]](NClass)
    val codes = new Array[Array[Int]](NClass)
    val present = new Array[Byte](32)
    var c = 0
    while (c < NClass) {
      if (freq(c).exists(_ > 0)) {
        present(c >>> 3) = (present(c >>> 3) | (1 << (c & 7))).toByte
        lens(c) = Huffman.codeLengths(freq(c))
        codes(c) = Huffman.canonicalCodes(lens(c))
      }
      c += 1
    }
    val bos = new java.io.ByteArrayOutputStream(data.length / 2 + 1024)
    bos.write(present, 0, 32)
    c = 0
    while (c < NClass) {
      if (lens(c) != null) {
        val l = lens(c)
        var lo = 0
        while (lo < 255 && l(lo) == 0) lo += 1
        var hi = 255
        while (hi > lo && l(hi) == 0) hi -= 1
        bos.write(lo)
        bos.write(hi - lo)
        var j = lo
        while (j <= hi) {
          val a = l(j)
          val b = if (j + 1 <= hi) l(j + 1) else 0
          bos.write((a << 4) | b)
          j += 2
        }
      }
      c += 1
    }
    var v = data.length.toLong
    while ((v & ~0x7fL) != 0L) { bos.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    bos.write(v.toInt)
    var acc = 0L
    var nBits = 0
    prev = 0
    i = 0
    while (i < data.length) {
      val s = data(i) & 0xff
      acc = (acc << lens(prev)(s)) | codes(prev)(s).toLong
      nBits += lens(prev)(s)
      while (nBits >= 8) {
        nBits -= 8
        bos.write(((acc >>> nBits) & 0xff).toInt)
      }
      prev = s
      i += 1
    }
    if (nBits > 0) bos.write(((acc << (8 - nBits)) & 0xff).toInt)
    bos.toByteArray
  }

  def decode(bytes: Array[Byte], from: Int, until: Int): Array[Byte] = {
    if (until - from < 33) throw TruncatedException
    var p = from + 32
    def isPresent(c: Int): Boolean =
      ((bytes(from + (c >>> 3)) >> (c & 7)) & 1) != 0
    val firstCode = Array.ofDim[Int](NClass, Huffman.MaxLen + 1)
    val symCount = Array.ofDim[Int](NClass, Huffman.MaxLen + 1)
    val symBase = Array.ofDim[Int](NClass, Huffman.MaxLen + 1)
    val symbols = new Array[Array[Int]](NClass)
    var c = 0
    while (c < NClass) {
      if (isPresent(c)) {
        if (p + 2 > until) throw TruncatedException
        val lo = bytes(p) & 0xff
        val cnt = (bytes(p + 1) & 0xff) + 1
        if (lo + cnt > 256) throw CorruptException("o1w alphabet range")
        p += 2
        if (p + (cnt + 1) / 2 > until) throw TruncatedException
        val lens = new Array[Int](256)
        var j = 0
        while (j < cnt) {
          val b = bytes(p) & 0xff
          lens(lo + j) = b >>> 4
          if (j + 1 < cnt) lens(lo + j + 1) = b & 0xf
          j += 2
          p += 1
        }
        val codes = Huffman.canonicalCodes(lens)
        val syms = scala.collection.mutable.ArrayBuilder.make[Int]
        var len = 1
        var base = 0
        while (len <= Huffman.MaxLen) {
          symBase(c)(len) = base
          var s = 0
          var first = Int.MaxValue
          var n = 0
          while (s < 256) {
            if (lens(s) == len) {
              if (first == Int.MaxValue) first = codes(s)
              syms += s
              n += 1
            }
            s += 1
          }
          firstCode(c)(len) = first
          symCount(c)(len) = n
          base += n
          len += 1
        }
        symbols(c) = syms.result()
      }
      c += 1
    }
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
      if (shift > 42) throw CorruptException("o1w count varint")
    }
    val count = n.toInt
    if (count < 0) throw CorruptException("o1w count")
    if (count > (until - p).toLong * 8) throw TruncatedException
    val out = new Array[Byte](count)
    var acc = 0L
    var nBits = 0
    var prev = 0
    var o = 0
    while (o < count) {
      if (symbols(prev) == null) throw CorruptException("o1w missing class")
      var l = 0
      var code = 0
      var decoded = -1
      while (decoded < 0) {
        if (nBits == 0) {
          if (p >= until) throw TruncatedException
          acc = bytes(p) & 0xffL
          p += 1
          nBits = 8
        }
        nBits -= 1
        code = (code << 1) | ((acc >>> nBits) & 1L).toInt
        l += 1
        if (l > Huffman.MaxLen) throw CorruptException("o1w code overrun")
        val fc = firstCode(prev)(l)
        if (fc != Int.MaxValue && code >= fc && code - fc < symCount(prev)(l))
          decoded = symbols(prev)(symBase(prev)(l) + (code - fc))
      }
      out(o) = decoded.toByte
      prev = decoded
      o += 1
    }
    out
  }
}
