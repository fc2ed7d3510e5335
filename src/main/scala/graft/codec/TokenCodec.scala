package graft.codec

import java.util.zip.CRC32

/** Codec ids — the engine's analog of the reference's variant dispatch
  * (`/root/reference/src/pyppmd/__init__.py:62-92` picks Ppmd7 vs Ppmd8;
  * we pick among six lightweight schemes per chunk/block). */
object CodecId {
  final val Raw: Byte = 0      // 4 bytes LE per token (the "store" floor)
  final val BitPack: Byte = 1  // frame-of-reference + fixed-width bit-pack
  final val Rle: Byte = 2      // run-length: (zigzag value, runLen-1) varints
  final val Dict: Byte = 3     // sorted dict (delta varints) + packed indexes
  final val Delta: Byte = 4    // zigzag varint deltas (sorted/sawtooth data)
  final val Blocks: Byte = 5   // composite: per-block codec selection
  final val VarInt: Byte = 6   // LEB128 per value (skewed small-value data)
  final val HPack: Byte = 7    // entropy wrap: Huffman over an inner frame
  /** The flat (non-composite) codecs; Blocks composes these. */
  val all: Seq[Byte] = Seq(Raw, BitPack, Rle, Dict, Delta, VarInt)
  def name(id: Byte): String = id match {
    case Raw => "raw"; case BitPack => "bitpack"; case Rle => "rle"
    case Dict => "dict"; case Delta => "delta"; case Blocks => "blocks"
    case VarInt => "varint"; case HPack => "hpack"
    case _ => s"unknown($id)"
  }
}

sealed trait DecodeResult
final case class Decoded(values: Array[Int]) extends DecodeResult
case object Truncated extends DecodeResult
final case class Corrupt(reason: String) extends DecodeResult

/** Framed single-vector codec: encode an Array[Int] slice into
  * self-describing bytes, decode back bit-identical.
  *
  * All encode paths are range-based (`from`/`until`) so the block-composite
  * codec encodes sub-ranges of one big chunk vector with ZERO intermediate
  * copies — the kernel is memory-bandwidth-bound at 32 threads, so every
  * avoided pass matters (SURVEY.md §4.2 vectorized-kernel plan).
  *
  * Framing (deliberately in-band, fixing the reference's out-of-band-params
  * footgun where decoding with wrong (max_order, mem_size) silently emits
  * garbage — SURVEY.md §1.1, `/root/reference/src/ext/_ppmdmodule.c:157-174`):
  *
  *   [0..1]  magic 'G','T'
  *   [2]     codec id
  *   [3..6]  value count, i32 LE
  *   [7.. ]  codec payload
  *   [last4] CRC32 of everything before it, i32 LE
  *
  * The magic check recasts the reference's leading-frame-byte validation
  * (`Ppmd7Dec.c:14-15`); CRC mismatch recasts decode result -2 "corrupt"
  * (`ThreadDecoder.h:17`); short payload recasts result 0 "needs input".
  */
object TokenCodec {
  final val MagicG: Byte = 'G'
  final val MagicT: Byte = 'T'
  final val HeaderLen = 7
  final val CrcLen = 4
  final val Overhead = HeaderLen + CrcLen

  /** Encode slice [from, until) with explicit codec choice into `out` at
    * `pos` (framed). Returns end position. `stats` must be
    * ChunkStats.analyze of the same slice. */
  def encodeInto(codec: Byte, v: Array[Int], from: Int, until: Int,
                 stats: ChunkStats, out: Array[Byte], pos: Int): Int = {
    val n = until - from
    out(pos) = MagicG; out(pos + 1) = MagicT; out(pos + 2) = codec
    writeIntLE(out, pos + 3, n)
    val body = pos + HeaderLen
    val end = codec match {
      case CodecId.Raw     => encodeRaw(v, from, until, out, body)
      case CodecId.BitPack => encodeBitPack(v, from, until, stats, out, body)
      case CodecId.Rle     => encodeRle(v, from, until, out, body)
      case CodecId.Dict    => encodeDict(v, from, until, stats, out, body)
      case CodecId.Delta   => encodeDelta(v, from, until, out, body)
      case CodecId.VarInt  => encodeVarint(v, from, until, stats, out, body)
      case other => throw new IllegalArgumentException(s"codec $other")
    }
    require(end - body == stats.payloadSize(codec),
      s"size model mismatch for ${CodecId.name(codec)}: wrote ${end - body}, predicted ${stats.payloadSize(codec)}")
    val crc = new CRC32
    crc.update(out, pos, end - pos)
    writeIntLE(out, end, crc.getValue.toInt)
    end + CrcLen
  }

  /** Encode a whole array with explicit codec choice. */
  def encode(codec: Byte, values: Array[Int], stats: ChunkStats): Array[Byte] = {
    val out = new Array[Byte](Overhead + stats.payloadSize(codec))
    encodeInto(codec, values, 0, values.length, stats, out, 0)
    out
  }

  /** Stats-driven auto-selected encode (the A3 facade analog). For vectors
    * spanning multiple miniblocks, compares the best whole-vector codec
    * against exact per-block selection and takes the smaller. Pass `rowLens`
    * when the vector is a concatenation of rows — row-aligned blocks are
    * near-homogeneous and compress best. */
  def encodeAuto(values: Array[Int]): Array[Byte] =
    encodeAuto(values, null)

  def encodeAuto(values: Array[Int], rowLens: Array[Int]): Array[Byte] =
    encodeAutoFrame(values, values.length, rowLens).frame

  /** An auto-encoded frame and what its selection learned of the values:
    * their bounds and their distinct set as a bitmap over [min, max] (bit
    * k of word w is the value min + 64w + k), null when there are no
    * values or they span 2^16 values or more. */
  final class AutoFrame(val frame: Array[Byte], val min: Int, val max: Int,
                        val distinct: Array[Long])

  /** `encodeAuto` of values[0, n), with the bounds and distinct set.
    *
    * One statistics pass (`ChunkStats.analyzeSplit`) gives each block's
    * stats, which choose its codec and give the exact size of the blocks
    * payload before any byte is written, and the whole vector's, derived
    * from the blocks', which give the best flat codec's size, the bounds
    * and the distinct set. The smaller of the two is written, the blocks
    * straight into the frame, and the entropy wrap writes its code
    * straight into its own frame. A vector too short to split, or split
    * into one block, is analyzed whole. */
  def encodeAutoFrame(values: Array[Int], n: Int, rowLens: Array[Int]): AutoFrame = {
    if (n < BlockCodec.MinTokens) {
      val st = ChunkStats.analyze(values, 0, n)
      return analyzed(flatFrame(values, n, st), st)
    }
    val splits =
      if (rowLens != null) BlockCodec.rowSplits(rowLens)
      else BlockCodec.fixedSplits(n)
    if (splits.length <= 1) {
      val st = ChunkStats.analyze(values, 0, n)
      return analyzed(hpackMaybe(flatFrame(values, n, st), n), st)
    }
    require(splits(splits.length - 1) == n,
      s"row lengths cover ${splits(splits.length - 1)} of $n values")
    val split = ChunkStats.analyzeSplit(values, splits)
    val st = split.whole
    val blockedLen = BlockCodec.payloadSize(split.blocks)
    val inner =
      if (blockedLen < st.payloadSize(st.bestCodec))
        blocksFrame(values, n, splits, split.blocks, blockedLen)
      else flatFrame(values, n, st)
    new AutoFrame(hpackMaybe(inner, n), st.min, st.max, split.distinct)
  }

  private def analyzed(frame: Array[Byte], st: ChunkStats): AutoFrame =
    new AutoFrame(frame, st.min, st.max, ChunkStats.distinctBitmap(st))

  private def flatFrame(values: Array[Int], n: Int, st: ChunkStats): Array[Byte] = {
    val out = new Array[Byte](Overhead + st.payloadSize(st.bestCodec))
    encodeInto(st.bestCodec, values, 0, n, st, out, 0)
    out
  }

  private def blocksFrame(values: Array[Int], n: Int, splits: Array[Int],
                          blocks: Array[ChunkStats], payloadLen: Int): Array[Byte] = {
    val out = new Array[Byte](Overhead + payloadLen)
    val end = BlockCodec.encodeInto(values, splits, blocks, out, HeaderLen)
    require(end == HeaderLen + payloadLen,
      s"blocks size model mismatch: ${end - HeaderLen} vs $payloadLen")
    seal(out, CodecId.Blocks, n)
  }

  /** Optional entropy wrap (codec HPack): Huffman over the inner frame's
    * bytes, kept only when it wins. The structural codecs leave skewed BYTE
    * distributions behind (varint of zipf tokens concentrates first-byte
    * values; bit-packed lanes repeat); a static order-0 code claws that
    * back with one extra sequential pass each way. Framed like any codec so
    * decode dispatch is uniform; never taken for small frames (header
    * overhead) or incompressible ones. The Huffman block is written in
    * place in the frame, and not at all when its exact size shows it
    * loses. */
  private def hpackMaybe(inner: Array[Byte], n: Int): Array[Byte] = {
    if (inner.length < (1 << 10)) return inner
    val out = Huffman.encodeFramed(inner, HeaderLen, CrcLen, inner.length)
    if (out == null) inner else seal(out, CodecId.HPack, n)
  }

  /** Fill in the header and the CRC of a frame whose body is in place. */
  private def seal(out: Array[Byte], codec: Byte, n: Int): Array[Byte] = {
    out(0) = MagicG; out(1) = MagicT; out(2) = codec
    writeIntLE(out, 3, n)
    val crc = new CRC32
    crc.update(out, 0, out.length - CrcLen)
    writeIntLE(out, out.length - CrcLen, crc.getValue.toInt)
    out
  }

  /** Auto-select among the flat codecs only; whole array. */
  def encodeAutoFlat(values: Array[Int]): Array[Byte] =
    flatFrame(values, values.length, ChunkStats.analyze(values))

  /** Total-function decode: never throws, returns the error taxonomy. */
  def decode(bytes: Array[Byte]): DecodeResult = {
    if (bytes == null || bytes.length < Overhead) return Truncated
    decodeRange(bytes, 0, bytes.length)
  }

  /** Decode a framed record occupying [pos, limit) of `bytes`. */
  def decodeRange(bytes: Array[Byte], pos: Int, limit: Int): DecodeResult =
    try {
      val n = checkFrame(bytes, pos, limit)
      val out = new Array[Int](n)
      decodeBody(bytes(pos + 2), bytes, pos + HeaderLen, limit - CrcLen, n, out, 0)
      Decoded(out)
    } catch {
      case TruncatedException => Truncated
      case CorruptException(m) => Corrupt(m)
      case _: ArrayIndexOutOfBoundsException => Truncated
      case _: NegativeArraySizeException => Corrupt("bad length")
    }

  /** The value count of the frame in [pos, limit), after checking its
    * length, magic and CRC. */
  private def checkFrame(bytes: Array[Byte], pos: Int, limit: Int): Int = {
    if (limit - pos < Overhead) throw TruncatedException
    if (bytes(pos) != MagicG || bytes(pos + 1) != MagicT)
      throw CorruptException("bad magic")
    val end = limit - CrcLen
    val crc = new CRC32
    crc.update(bytes, pos, end - pos)
    if (crc.getValue.toInt != readIntLE(bytes, end))
      throw CorruptException("crc mismatch")
    val n = readIntLE(bytes, pos + 3)
    if (n < 0) throw CorruptException("negative count")
    n
  }

  /** Decode the n values of a `codec` body in [body, end) into out(at..):
    * the blocks and the entropy wrap's inner frame decode in place too. */
  private[codec] def decodeBody(codec: Byte, bytes: Array[Byte], body: Int,
                                end: Int, n: Int, out: Array[Int], at: Int): Unit =
    codec match {
      case CodecId.Raw     => decodeRaw(bytes, body, end, n, out, at)
      case CodecId.BitPack => decodeBitPack(bytes, body, end, n, out, at)
      case CodecId.Rle     => decodeRle(bytes, body, end, n, out, at)
      case CodecId.Dict    => decodeDict(bytes, body, end, n, out, at)
      case CodecId.Delta   => decodeDelta(bytes, body, end, n, out, at)
      case CodecId.VarInt  => decodeVarint(bytes, body, end, n, out, at)
      case CodecId.Blocks  => BlockCodec.decode(bytes, body, end, n, out, at)
      case CodecId.HPack =>
        val inner = Huffman.decode(bytes, body, end)
        if (inner.length >= 3 && inner(2) == CodecId.HPack)
          throw CorruptException("nested hpack") // encoder never nests
        if (checkFrame(inner, 0, inner.length) != n)
          throw CorruptException("hpack count mismatch")
        decodeBody(inner(2), inner, HeaderLen, inner.length - CrcLen, n, out, at)
      case other => throw CorruptException(s"unknown codec $other")
    }

  /** Strict decode for trusted pipelines: throws on anything but success. */
  def decodeOrThrow(bytes: Array[Byte]): Array[Int] = decode(bytes) match {
    case Decoded(v) => v
    case Truncated  => throw TruncatedException
    case Corrupt(m) => throw CorruptException(m)
  }

  // ---- raw ----------------------------------------------------------------
  private def encodeRaw(v: Array[Int], from: Int, until: Int,
                        out: Array[Byte], pos0: Int): Int = {
    var pos = pos0; var i = from
    while (i < until) { writeIntLE(out, pos, v(i)); pos += 4; i += 1 }
    pos
  }
  private def decodeRaw(b: Array[Byte], pos0: Int, limit: Int, n: Int,
                        out: Array[Int], at: Int): Unit = {
    if (pos0 + 4L * n > limit) throw TruncatedException
    var pos = pos0; var i = 0
    while (i < n) { out(at + i) = readIntLE(b, pos); pos += 4; i += 1 }
  }

  // ---- frame-of-reference + bit-pack --------------------------------------
  // payload: [base i32 LE][width u8][packed bits]
  private def encodeBitPack(v: Array[Int], from: Int, until: Int,
                            st: ChunkStats, out: Array[Byte], pos0: Int): Int = {
    writeIntLE(out, pos0, st.min)
    out(pos0 + 4) = st.forWidth.toByte
    BitPacking.pack(v, from, until, st.min.toLong, st.forWidth, out, pos0 + 5)
  }
  private def decodeBitPack(b: Array[Byte], pos0: Int, limit: Int, n: Int,
                            out: Array[Int], at: Int): Unit = {
    if (pos0 + 5 > limit) throw TruncatedException
    val base = readIntLE(b, pos0).toLong
    val width = b(pos0 + 4) & 0xff
    if (width > 32) throw CorruptException(s"bitpack width $width")
    BitPacking.unpack(b, pos0 + 5, limit, n, width, base, out, at)
  }

  // ---- run-length ----------------------------------------------------------
  // payload: per run [zigzag varint value][varint runLen-1]; run count is
  // implied by the total value count in the header.
  private def encodeRle(v: Array[Int], from: Int, until: Int,
                        out: Array[Byte], pos0: Int): Int = {
    var pos = pos0
    var i = from
    while (i < until) {
      val x = v(i)
      var j = i + 1
      while (j < until && v(j) == x) j += 1
      pos = Varint.writeZ32(out, pos, x)
      pos = Varint.write32(out, pos, j - i - 1)
      i = j
    }
    pos
  }
  private def decodeRle(b: Array[Byte], pos0: Int, limit: Int, n: Int,
                        out: Array[Int], at: Int): Unit = {
    val r = new Varint.Reader(b, pos0, limit)
    var i = 0
    while (i < n) {
      val x = r.readZ().toInt
      val run = r.read().toInt + 1
      if (run <= 0 || i + run > n) throw CorruptException("rle overrun")
      java.util.Arrays.fill(out, at + i, at + i + run, x)
      i += run
    }
  }

  // ---- dictionary ----------------------------------------------------------
  // payload: [varint card][dict: zigzag varint first, then varint positive
  // deltas (sorted ascending)][width u8][packed dict indexes]
  private def encodeDict(v: Array[Int], from: Int, until: Int, st: ChunkStats,
                         out: Array[Byte], pos0: Int): Int = {
    val dict = st.sortedDistinct
    val card = dict.length
    var pos = Varint.write(out, pos0, card.toLong)
    if (card > 0) {
      pos = Varint.writeZ(out, pos, dict(0).toLong)
      var i = 1
      while (i < card) {
        pos = Varint.write(out, pos, dict(i).toLong - dict(i - 1).toLong)
        i += 1
      }
    }
    val width = BitPacking.bitsFor((card - 1).toLong)
    out(pos) = width.toByte
    pos += 1
    // each value's dict index: a bitmap rank when the dict spans fewer
    // than 2^16 values, else a binary search (dict is sorted)
    val n = until - from
    val idx = new Array[Int](n)
    if (card > 0 && dict(card - 1).toLong - dict(0).toLong < ChunkStats.BitmapSpan)
      ChunkStats.dictRanks(dict, v, from, until, idx)
    else {
      var i = 0
      while (i < n) {
        idx(i) = java.util.Arrays.binarySearch(dict, v(from + i))
        i += 1
      }
    }
    BitPacking.pack(idx, 0, n, 0L, width, out, pos)
  }
  private def decodeDict(b: Array[Byte], pos0: Int, limit: Int, n: Int,
                         out: Array[Int], at: Int): Unit = {
    val r = new Varint.Reader(b, pos0, limit)
    val card = r.read().toInt
    if (card < 0 || card > ChunkStats.DictCap) throw CorruptException("dict card")
    val dict = new Array[Int](card)
    if (card > 0) {
      dict(0) = r.readZ().toInt
      var i = 1
      while (i < card) { dict(i) = dict(i - 1) + r.read().toInt; i += 1 }
    }
    if (r.pos >= limit && n > 0) throw TruncatedException
    val width = b(r.pos) & 0xff
    if (width > 32) throw CorruptException(s"dict width $width")
    val idx = new Array[Int](n)
    BitPacking.unpack(b, r.pos + 1, limit, n, width, 0L, idx, 0)
    var i = 0
    while (i < n) {
      val k = idx(i)
      if (k < 0 || k >= card) throw CorruptException("dict index out of range")
      out(at + i) = dict(k)
      i += 1
    }
  }

  // ---- delta ----------------------------------------------------------------
  // payload: zigzag varint v0, then zigzag varint (v[i]-v[i-1]) as Long
  private def encodeDelta(v: Array[Int], from: Int, until: Int,
                          out: Array[Byte], pos0: Int): Int = {
    var pos = pos0
    if (until > from) {
      pos = Varint.writeZ(out, pos, v(from).toLong)
      var i = from + 1
      while (i < until) {
        pos = Varint.writeZ(out, pos, v(i).toLong - v(i - 1).toLong)
        i += 1
      }
    }
    pos
  }
  private def decodeDelta(b: Array[Byte], pos0: Int, limit: Int, n: Int,
                          out: Array[Int], at: Int): Unit = {
    if (n == 0) return
    val r = new Varint.Reader(b, pos0, limit)
    var prev = r.readZ()
    out(at) = prev.toInt
    var i = 1
    while (i < n) {
      prev += r.readZ()
      out(at + i) = prev.toInt
      i += 1
    }
  }

  // ---- varint-per-value -------------------------------------------------------
  // payload: [flag u8: 0 = unsigned LEB128 (all values >= 0), 1 = zigzag]
  private def encodeVarint(v: Array[Int], from: Int, until: Int,
                           st: ChunkStats, out: Array[Byte], pos0: Int): Int = {
    val unsigned = st.min >= 0
    out(pos0) = if (unsigned) 0 else 1
    var pos = pos0 + 1
    var i = from
    while (i < until) {
      pos =
        if (unsigned) Varint.write32(out, pos, v(i))
        else Varint.writeZ32(out, pos, v(i))
      i += 1
    }
    pos
  }
  private def decodeVarint(b: Array[Byte], pos0: Int, limit: Int, n: Int,
                           out: Array[Int], at: Int): Unit = {
    if (n == 0) return
    if (pos0 >= limit) throw TruncatedException
    val unsigned = b(pos0) == 0
    val r = new Varint.Reader(b, pos0 + 1, limit)
    var i = 0
    while (i < n) {
      out(at + i) = if (unsigned) r.read().toInt else r.readZ().toInt
      i += 1
    }
  }

  // ---- little-endian helpers -----------------------------------------------
  def writeIntLE(b: Array[Byte], pos: Int, v: Int): Unit = {
    b(pos) = v.toByte
    b(pos + 1) = (v >>> 8).toByte
    b(pos + 2) = (v >>> 16).toByte
    b(pos + 3) = (v >>> 24).toByte
  }
  def readIntLE(b: Array[Byte], pos: Int): Int =
    (b(pos) & 0xff) | ((b(pos + 1) & 0xff) << 8) |
    ((b(pos + 2) & 0xff) << 16) | ((b(pos + 3) & 0xff) << 24)
}
