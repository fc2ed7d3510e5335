package graft.codec

/** LEB128 varints + zigzag, the byte-level primitives shared by the RLE /
  * delta / dict codecs.
  *
  * Reference analog: the range coder's byte emission
  * (`/root/reference/src/lib/ppmd/Ppmd7Enc.c:17-65`) — ours is a
  * lightweight-integer framing instead of arithmetic coding, per the
  * columnar_encode north rule.
  */
object Varint {
  /** Bytes needed for an unsigned LEB128 of v (v interpreted unsigned):
    * one per started 7-bit group of its significant bits, computed without
    * a branch as (64 - nlz(v | 1) + 6) / 7 (`v | 1` makes 0 count as one
    * bit). The division is `* 37 >>> 8`, exact for the 7..70 it sees. */
  def len(v: Long): Int =
    ((70 - java.lang.Long.numberOfLeadingZeros(v | 1L)) * 37) >>> 8

  /** `len` of an Int read as unsigned 32-bit (`len(x & 0xffffffffL)`). */
  def len32(x: Int): Int =
    ((38 - Integer.numberOfLeadingZeros(x | 1)) * 37) >>> 8

  /** `zlen(x.toLong)` in 32-bit arithmetic: the 32-bit zigzag of an Int,
    * read unsigned, equals the 64-bit zigzag of its sign extension. */
  def zlen32(x: Int): Int = len32((x << 1) ^ (x >> 31))

  def zigzag(v: Long): Long = (v << 1) ^ (v >> 63)
  def unzigzag(v: Long): Long = (v >>> 1) ^ -(v & 1L)

  def zlen(v: Long): Int = len(zigzag(v))

  /** Write unsigned LEB128, return new position. */
  def write(buf: Array[Byte], pos0: Int, v: Long): Int = {
    var x = v
    var pos = pos0
    while ((x & ~0x7fL) != 0L) {
      buf(pos) = ((x & 0x7f) | 0x80).toByte
      pos += 1
      x >>>= 7
    }
    buf(pos) = x.toByte
    pos + 1
  }

  def writeZ(buf: Array[Byte], pos: Int, v: Long): Int =
    write(buf, pos, zigzag(v))

  /** Cursor-based reader (avoids tuple allocation in hot loops). */
  final class Reader(val buf: Array[Byte], var pos: Int, val limit: Int) {
    def this(buf: Array[Byte]) = this(buf, 0, buf.length)
    def hasMore: Boolean = pos < limit
    /** Reads one unsigned LEB128; throws TruncatedException past limit. */
    def read(): Long = {
      var shift = 0
      var out = 0L
      var more = true
      while (more) {
        if (pos >= limit) throw TruncatedException
        val b = buf(pos)
        pos += 1
        out |= (b & 0x7fL) << shift
        shift += 7
        more = (b & 0x80) != 0
        if (shift > 70) throw CorruptException("varint too long")
      }
      out
    }
    def readZ(): Long = unzigzag(read())
  }
}

/** Decode failure taxonomy — recast of the reference decoder's result codes
  * (0 needs-input / -1 EOF / -2 corrupt, `ThreadDecoder.h:16-17`,
  * `_ppmdmodule.c:540-551`). */
object TruncatedException extends RuntimeException("truncated payload") {
  override def fillInStackTrace(): Throwable = this
}
final case class CorruptException(msg: String) extends RuntimeException(msg)
