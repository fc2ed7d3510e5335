package graft.codec

import java.util.zip.CRC32

/** FSST — Fast Static Symbol Table string compression (simplified from the
  * public VLDB'20 paper "FSST: Fast Random Access String Compression",
  * Boncz/Neumann/Leis). A symbol table of up to 255 symbols of 1..8 bytes,
  * greedy longest-match encode, code 255 = escape + literal.
  *
  * Role in this engine (SURVEY.md §7): compresses the string side-columns of
  * a chunk (concatenated doc_id / source bytes) and `compress_text` values —
  * the analog of the reference handling `str` input by UTF-8 encoding it
  * first (`/root/reference/src/pyppmd/__init__.py:83,144-145`). A symbol
  * table pays off only when one table serves many strings, so `train` builds
  * the per-table shared dictionary (`encodeShared`, modes 10/11/14) and the
  * self-contained `encode` trains no table of its own.
  *
  * Framing: [magic 'G','S'][mode u8][varint rawLen][mode body]
  *          [crc32 LE of all previous bytes]
  * Every Huffman block is `Huffman`'s one format, under the context model
  * its shift names (8 = order-0, 3 = 32 classes, 0 = the previous byte).
  * The encoder writes four modes and keeps the smallest; raw is the
  * ceiling, so output never expands beyond header + rawLen:
  *          mode 0: [raw bytes]
  *          mode 4: [shift-8 Huffman block over the raw bytes]
  *          mode 6: [shift-3 Huffman block over the raw bytes] — order-1:
  *                  per-class tables keyed by the previous byte's top 5
  *                  bits (static stand-in for the reference's adaptive
  *                  contexts on text payloads)
  *          mode 8: [varint dictFrameLen][inner Fsst frame: word dict]
  *                  [shift-0 Huffman block over the id bytes] — word model
  *                  (WordModel) with FULL order-1 coding of the id stream
  *                  (vocab <= 256): "which word follows which", the static
  *                  recast of the reference's deep text contexts
  * The decoder also reads every mode earlier encoders wrote, because
  * persisted chunks and stored `compress_text` values may hold them:
  *          mode 1: [u8 nSymbols][per symbol: u8 len, bytes][code bytes]
  *          mode 2: [u8 nSymbols][symbols][TokenCodec frame over the code
  *                  stream]
  *          mode 3: [u8 nSymbols][symbols][shift-8 Huffman over the codes]
  *          mode 5: [u8 nSymbols][symbols][shift-3 Huffman over the codes]
  *          mode 7: [varint dictFrameLen][inner Fsst frame: word dict]
  *                  [TokenCodec frame over the word-id stream]
  *          mode 9: [shift-0 Huffman block over the raw bytes]
  * and, through `decodeShared`, the shared-table modes 10/11/14 (14 is a
  * shift-3 bitstream under the shared `Huffman.trainModel` model).
  */
object Fsst {
  final val EscapeCode = 255
  final val MaxSymbols = 255
  final val MaxSymbolLen = 8
  private final val MagicG: Byte = 'G'
  private final val MagicS: Byte = 'S'
  private final val TrainGenerations = 4
  private final val TrainSampleLimit = 1 << 14

  final class SymbolTable(val symbols: Array[Array[Byte]]) {
    // bucket by first byte, longest-first (then highest index first), for
    // greedy longest match
    private[Fsst] val buckets: Array[Array[Int]] = {
      val size = new Array[Int](256)
      symbols.foreach(s => size(s(0) & 0xff) += 1)
      val out = size.map(new Array[Int](_))
      java.util.Arrays.fill(size, 0)
      var i = symbols.length - 1
      while (i >= 0) { // insertion after every symbol at least as long
        val b = symbols(i)(0) & 0xff
        val bucket = out(b)
        var j = size(b)
        while (j > 0 && symbols(bucket(j - 1)).length < symbols(i).length) {
          bucket(j) = bucket(j - 1)
          j -= 1
        }
        bucket(j) = i
        size(b) += 1
        i -= 1
      }
      out
    }

    /** Longest symbol matching data at pos, or -1. */
    def findLongest(data: Array[Byte], pos: Int, limit: Int): Int = {
      val bucket = buckets(data(pos) & 0xff)
      var bi = 0
      while (bi < bucket.length) {
        val si = bucket(bi)
        val s = symbols(si)
        if (pos + s.length <= limit && matches(data, pos, s)) return si
        bi += 1
      }
      -1
    }
    private def matches(d: Array[Byte], pos: Int, s: Array[Byte]): Boolean = {
      var i = 0
      while (i < s.length) {
        if (d(pos + i) != s(i)) return false
        i += 1
      }
      true
    }
  }

  /** Train a table on (a sample of) the data — the one trainer behind the
    * shared meta dictionary (`MetaDict.train`) and `doc_compress_shared`:
    * iterative greedy merge of frequent adjacent symbol pairs, scored by
    * gain = freq * length.
    * Oversized inputs are sampled by STRIDED slices spread over the whole
    * buffer — a prefix sample would bias the table toward the first rows of
    * a chunk and miss vocabulary that only appears later.
    *
    * Each generation counts codes and adjacent code pairs in primitive
    * open-addressing tables, keys every candidate symbol (at most 8 bytes)
    * by its bytes packed into a Long, and keeps the best `MaxSymbols` in a
    * bounded heap ordered by -gain, then length, then unsigned byte order —
    * a total order over distinct symbols, so the table is deterministic. */
  def train(data: Array[Byte]): SymbolTable = {
    val sample =
      if (data.length <= TrainSampleLimit) data
      else {
        val nSlices = 16
        val slice = TrainSampleLimit / nSlices
        val out = new Array[Byte](slice * nSlices)
        val stride = (data.length - slice).toDouble / (nSlices - 1)
        var k = 0
        while (k < nSlices) {
          val start = math.min(math.round(k * stride), (data.length - slice).toLong).toInt
          System.arraycopy(data, start, out, k * slice, slice)
          k += 1
        }
        out
      }
    var table = new SymbolTable(Array.empty)
    var gen = 0
    while (gen < TrainGenerations) {
      table = refine(table, sample)
      gen += 1
    }
    table
  }

  private def refine(table: SymbolTable, sample: Array[Byte]): SymbolTable = {
    val nSym = table.symbols.length
    // pseudo-code space: 0..nSym-1 = table symbols, 256 literals after;
    // each code's bytes packed big-endian into a Long, with its length
    val nCodes = nSym + 256
    val codeVal = new Array[Long](nCodes)
    val codeLen = new Array[Int](nCodes)
    var c = 0
    while (c < nCodes) {
      if (c < nSym) {
        codeVal(c) = packBytes(table.symbols(c))
        codeLen(c) = table.symbols(c).length
      } else {
        codeVal(c) = (c - nSym).toLong
        codeLen(c) = 1
      }
      c += 1
    }
    val freq1 = new Array[Long](nCodes)
    val pairs = new PairCounts(math.min(sample.length.toLong, nCodes.toLong * nCodes).toInt)
    var pos = 0
    var prev = -1
    val n = sample.length
    while (pos < n) {
      val si = if (nSym == 0) -1 else table.findLongest(sample, pos, n)
      val code = if (si >= 0) si else nSym + (sample(pos) & 0xff)
      freq1(code) += 1
      if (prev >= 0) pairs.increment(prev * nCodes + code)
      prev = code
      pos += codeLen(code)
    }
    // candidates: existing symbols, literals, and pair concatenations
    val cand = new Candidates(nCodes + pairs.size)
    c = 0
    while (c < nCodes) {
      if (freq1(c) > 0) cand.offer(codeLen(c), codeVal(c), freq1(c) * codeLen(c))
      c += 1
    }
    var slot = 0
    while (slot < pairs.capacity) {
      val key = pairs.keys(slot) - 1
      if (key >= 0) {
        val a = key / nCodes
        val b = key % nCodes
        val len = codeLen(a) + codeLen(b)
        if (len <= MaxSymbolLen)
          cand.offer(len, (codeVal(a) << (8 * codeLen(b))) | codeVal(b),
            pairs.counts(slot).toLong * len)
      }
      slot += 1
    }
    new SymbolTable(cand.top(MaxSymbols))
  }

  private def packBytes(b: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < b.length) { v = (v << 8) | (b(i) & 0xffL); i += 1 }
    v
  }

  /** Power-of-two slot count that keeps `maxKeys` keys at most half full. */
  private def tableSlots(maxKeys: Int): Int =
    Integer.highestOneBit(math.max(16, 2 * maxKeys) - 1) << 1

  /** Occurrence counts of non-negative Int keys, open addressing; a slot
    * holds key + 1 (0 = empty). Sized for `maxKeys` distinct keys. */
  private final class PairCounts(maxKeys: Int) {
    val capacity: Int = tableSlots(maxKeys)
    private val mask = capacity - 1
    private val shift = Integer.numberOfLeadingZeros(mask)
    val keys = new Array[Int](capacity)
    val counts = new Array[Int](capacity)
    var size = 0

    def increment(key: Int): Unit = {
      var i = (key * 0x9e3779b1) >>> shift
      while (keys(i) != 0 && keys(i) != key + 1) i = (i + 1) & mask
      if (keys(i) == 0) { keys(i) = key + 1; size += 1 }
      counts(i) += 1
    }
  }

  /** Candidate symbols keyed by (length, packed bytes), keeping the best
    * gain offered for each; open addressing, sized for `maxKeys` keys. */
  private final class Candidates(maxKeys: Int) {
    private val capacity = tableSlots(maxKeys)
    private val mask = capacity - 1
    private val shift = java.lang.Long.numberOfLeadingZeros(mask.toLong)
    private val lens = new Array[Int](capacity) // 0 = empty slot
    private val vals = new Array[Long](capacity)
    private val gains = new Array[Long](capacity)
    private var size = 0

    def offer(len: Int, v: Long, gain: Long): Unit = {
      var i = (((v + len) * 0x9e3779b97f4a7c15L) >>> shift).toInt
      while (lens(i) != 0 && (lens(i) != len || vals(i) != v)) i = (i + 1) & mask
      if (lens(i) == 0) { lens(i) = len; vals(i) = v; gains(i) = gain; size += 1 }
      else if (gains(i) < gain) gains(i) = gain
    }

    /** Slot x ranks before slot y: higher gain, then shorter, then lower
      * unsigned bytes. */
    private def before(x: Int, y: Int): Boolean =
      if (gains(x) != gains(y)) gains(x) > gains(y)
      else if (lens(x) != lens(y)) lens(x) < lens(y)
      else java.lang.Long.compareUnsigned(vals(x), vals(y)) < 0

    /** The best `k` candidates as symbols, best first: a bounded heap whose
      * root is the worst symbol kept so far. */
    def top(k0: Int): Array[Array[Byte]] = {
      val k = math.min(k0, size)
      val heap = new Array[Int](k)
      var m = 0
      def siftDown(i0: Int): Unit = {
        var i = i0
        var done = false
        while (!done) {
          var w = 2 * i + 1
          if (w >= m) done = true
          else {
            if (w + 1 < m && before(heap(w), heap(w + 1))) w += 1
            if (before(heap(i), heap(w))) {
              val t = heap(i); heap(i) = heap(w); heap(w) = t
              i = w
            } else done = true
          }
        }
      }
      var slot = 0
      while (slot < capacity) {
        if (lens(slot) != 0) {
          if (m < k) {
            var i = m
            heap(i) = slot
            m += 1
            while (i > 0 && before(heap((i - 1) / 2), heap(i))) {
              val p = (i - 1) / 2
              val t = heap(i); heap(i) = heap(p); heap(p) = t
              i = p
            }
          } else if (k > 0 && before(slot, heap(0))) {
            heap(0) = slot
            siftDown(0)
          }
        }
        slot += 1
      }
      val out = new Array[Array[Byte]](k)
      while (m > 0) { // pop the worst into the last free place
        val s = heap(0)
        m -= 1
        heap(0) = heap(m)
        siftDown(0)
        val sym = new Array[Byte](lens(s))
        var j = 0
        while (j < sym.length) { sym(j) = (vals(s) >>> (8 * (sym.length - 1 - j))).toByte; j += 1 }
        out(m) = sym
      }
      out
    }
  }

  def compressWith(table: SymbolTable, data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 16)
    var pos = 0
    val n = data.length
    while (pos < n) {
      val si = table.findLongest(data, pos, n)
      if (si >= 0) {
        out.write(si)
        pos += table.symbols(si).length
      } else {
        out.write(EscapeCode)
        out.write(data(pos) & 0xff)
        pos += 1
      }
    }
    out.toByteArray
  }

  def decompressWith(table: SymbolTable, data: Array[Byte], from: Int,
                     until: Int, outLen: Int): Array[Byte] = {
    // one code byte yields at most MaxSymbolLen output bytes: a declared
    // length past that is corrupt, and must fail BEFORE the allocation (a
    // few-byte CRC-valid frame could otherwise ask for a 2 GB array)
    if (outLen.toLong > math.max(until - from, 0).toLong * MaxSymbolLen)
      throw CorruptException(
        s"fsst raw length $outLen exceeds ${until - from} codes")
    val out = new Array[Byte](outLen)
    var pos = from
    var o = 0
    while (pos < until) {
      val code = data(pos) & 0xff
      pos += 1
      if (code == EscapeCode) {
        if (pos >= until) throw TruncatedException
        if (o >= outLen) throw CorruptException("fsst output overrun")
        out(o) = data(pos)
        pos += 1
        o += 1
      } else {
        if (code >= table.symbols.length)
          throw CorruptException(s"fsst code $code out of table")
        val s = table.symbols(code)
        if (o + s.length > outLen) throw CorruptException("fsst output overrun")
        System.arraycopy(s, 0, out, o, s.length)
        o += s.length
      }
    }
    if (o != outLen) throw TruncatedException
    out
  }

  /** Self-contained framed encode: order-0 Huffman (mode 4), order-1
    * Huffman (mode 6) or the word model (mode 8), whichever is smallest,
    * with raw (mode 0) as the ceiling; equal sizes go to raw, then to 8, 6
    * and 4 in that order. Never expands beyond header + rawLen. */
  def encode(data: Array[Byte]): Array[Byte] = encodeInner(data, true)

  /** allowWordModel=false breaks the recursion when the word dict blob is
    * itself Fsst-framed (the dict is small; word-modeling it again could
    * recurse and never wins anyway). */
  private def encodeInner(data: Array[Byte], allowWordModel: Boolean): Array[Byte] = {
    var mode = 0
    var body = data
    def consider(m: Int, b: Array[Byte]): Unit =
      if (b != null && b.length < body.length) { mode = m; body = b }
    if (allowWordModel && data.length >= 1024) consider(8, wordModel(data))
    if (data.length >= 64) {
      consider(6, Huffman.encode(data, Huffman.Order1))
      consider(4, Huffman.encode(data))
    }
    val bos = new java.io.ByteArrayOutputStream(body.length + 16)
    bos.write(MagicG); bos.write(MagicS)
    bos.write(mode)
    Varint.write(bos, data.length.toLong)
    bos.write(body, 0, body.length)
    val framed = bos.toByteArray
    val crc = new CRC32
    crc.update(framed)
    val out = java.util.Arrays.copyOf(framed, framed.length + 4)
    TokenCodec.writeIntLE(out, framed.length, crc.getValue.toInt)
    out
  }

  /** Mode-8 body — the winning shape for natural-language text, where the
    * vocabulary is tiny relative to the byte stream — or null when the
    * vocabulary does not fit the byte-wide id stream (over 256 words) or its
    * words do not repeat (average under 4 occurrences, which is what the
    * dictionary amortizes against: chunk doc_id blobs have a vocabulary of
    * about one word per row and are rejected before any dict is built). */
  private def wordModel(data: Array[Byte]): Array[Byte] = {
    val (entries, ids) = WordModel.tokenize(data)
    if (entries.length < 2 || entries.length > 256 ||
        ids.length < entries.length * 4) return null
    val dictFrame = encodeInner(WordModel.packDict(entries), false)
    val idBytes = new Array[Byte](ids.length)
    var i = 0
    while (i < ids.length) { idBytes(i) = ids(i).toByte; i += 1 }
    val idsBlock = Huffman.encode(idBytes, Huffman.Order1Full)
    val bos = new java.io.ByteArrayOutputStream(
      dictFrame.length + idsBlock.length + 8)
    Varint.write(bos, dictFrame.length.toLong)
    bos.write(dictFrame, 0, dictFrame.length)
    bos.write(idsBlock, 0, idsBlock.length)
    bos.toByteArray
  }

  def decode(bytes: Array[Byte]): Array[Byte] = decodeInner(bytes, true)

  // ---- shared-table framing (modes 10/11) ----------------------------------

  /** Serialize a symbol table: varint count, then per symbol varint len +
    * bytes. The lineage layer persists this ONCE per table dir
    * (`_lineage/_shared_dict.bin`) and every chunk codes against it — the
    * storage-layer recast of the reference's stateful stream mode, where one
    * adaptive model is amortized across many writes (`_ppmdmodule.c`
    * Ppmd7Encoder/Ppmd7Decoder), without cross-task coupling: the table is
    * immutable after training. */
  def tableToBytes(t: SymbolTable): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    Varint.write(bos, t.symbols.length.toLong)
    t.symbols.foreach { s =>
      Varint.write(bos, s.length.toLong); bos.write(s, 0, s.length)
    }
    bos.toByteArray
  }

  def tableFromBytes(b: Array[Byte]): SymbolTable = {
    val r = new Varint.Reader(b)
    val n = r.read().toInt
    if (n < 0 || n > MaxSymbols) throw CorruptException("shared table count")
    val symbols = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      val len = r.read().toInt
      if (len <= 0 || len > MaxSymbolLen || r.pos + len > b.length)
        throw CorruptException("shared table symbol")
      symbols(i) = java.util.Arrays.copyOfRange(b, r.pos, r.pos + len)
      r.pos += len
      i += 1
    }
    new SymbolTable(symbols)
  }

  /** Frame `data` against EXTERNAL shared models: the same magic/CRC
    * envelope as encode(), with modes 10 (shared-FSST code stream raw),
    * 11 (shared-FSST codes through the stats-driven TokenCodec) and
    * 14 (shared order-1 Huffman model bitstream — the winner for
    * front-coded id blobs, whose per-chunk cost was dominated by the O1
    * table header, not the data bits). Nothing model-sized is embedded —
    * the decoder supplies the identical models. Emits the smallest of all
    * shared candidates AND the self-contained encode(), so badly matched
    * models can never inflate a section; decodeShared handles every case. */
  /** `dictFp`: CRC32 fingerprint of the SERIALIZED dictionary, stored in
    * every shared frame and verified at decode. The frame CRC proves the
    * frame is intact but says nothing about WHICH models it was coded
    * against — decoding with the wrong (but internally valid) dictionary
    * would otherwise produce silently wrong strings, the one failure mode
    * the data path must never have. */
  def encodeShared(table: SymbolTable, o1: Huffman.Tables, dictFp: Int,
                   data: Array[Byte]): Array[Byte] = {
    val inline = encode(data)
    var bestMode = -1
    var bestBody: Array[Byte] = null
    def consider(mode: Int, body: Array[Byte]): Unit =
      if (body != null && (bestBody == null || body.length < bestBody.length)) {
        bestMode = mode; bestBody = body
      }
    if (table != null && table.symbols.nonEmpty) {
      val packed = compressWith(table, data)
      consider(10, packed)
      val ints = new Array[Int](packed.length)
      var i = 0
      while (i < packed.length) { ints(i) = packed(i) & 0xff; i += 1 }
      consider(11, TokenCodec.encodeAutoFlat(ints))
    }
    if (o1 != null)
      consider(14, Huffman.encodeBitsWithModel(o1, data))
    if (bestBody == null) return inline
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(MagicG); bos.write(MagicS)
    bos.write(bestMode)
    Varint.write(bos, data.length.toLong)
    bos.write(dictFp & 0xff); bos.write((dictFp >>> 8) & 0xff)
    bos.write((dictFp >>> 16) & 0xff); bos.write((dictFp >>> 24) & 0xff)
    bos.write(bestBody, 0, bestBody.length)
    val framed = bos.toByteArray
    val crc = new CRC32
    crc.update(framed)
    val out = java.util.Arrays.copyOf(framed, framed.length + 4)
    TokenCodec.writeIntLE(out, framed.length, crc.getValue.toInt)
    if (out.length < inline.length) out else inline
  }

  /** Decode a frame that MAY be shared-coded: modes 10/11/14 need the
    * models (and verify the stored dictionary fingerprint); any other mode
    * delegates to the self-contained decoder (encodeShared falls back to
    * it when inline framing wins). */
  def decodeShared(table: SymbolTable, o1: Huffman.Tables, dictFp: Int,
                   bytes: Array[Byte]): Array[Byte] = {
    if (bytes.length < 7) throw TruncatedException
    if (bytes(0) != MagicG || bytes(1) != MagicS)
      throw CorruptException("fsst bad magic")
    val mode = bytes(2)
    if (mode != 10 && mode != 11 && mode != 14)
      return decodeInner(bytes, true)
    val end = bytes.length - 4
    val crc = new CRC32
    crc.update(bytes, 0, end)
    if (crc.getValue.toInt != TokenCodec.readIntLE(bytes, end))
      throw CorruptException("fsst crc mismatch")
    val r = new Varint.Reader(bytes, 3, end)
    // bound-check in Long BEFORE the narrowing: a varint in [2^32, 2^33)
    // with small low bits would truncate to a small non-negative Int and
    // slip past a post-hoc `< 0` guard (reachable only past a CRC32
    // collision, but the typed-failure contract holds regardless)
    val rawLenL = r.read()
    if (rawLenL < 0L || rawLenL > Int.MaxValue)
      throw CorruptException("fsst raw length")
    val rawLen = rawLenL.toInt
    if (r.pos + 4 > end) throw TruncatedException
    val storedFp = TokenCodec.readIntLE(bytes, r.pos)
    r.pos += 4
    if (storedFp != dictFp)
      throw CorruptException(
        s"shared-dict fingerprint mismatch: frame ${storedFp.toHexString} " +
          s"vs supplied ${dictFp.toHexString} — wrong dictionary for this chunk")
    if (mode == 14 && o1 != null) Huffman.decodeBits(o1, bytes, r.pos, end, rawLen)
    else if (mode == 14 || table == null || table.symbols.isEmpty)
      throw CorruptException("shared-dict frame: external table required")
    else if (mode == 10) decompressWith(table, bytes, r.pos, end, rawLen)
    else {
      val codes = TokenCodec.decodeRange(bytes, r.pos, end) match {
        case Decoded(v) => v
        case Truncated  => throw TruncatedException
        case Corrupt(m) => throw CorruptException(m)
      }
      val stream = new Array[Byte](codes.length)
      var i = 0
      while (i < codes.length) {
        if (codes(i) < 0 || codes(i) > 255)
          throw CorruptException("fsst packed code out of range")
        stream(i) = codes(i).toByte
        i += 1
      }
      decompressWith(table, stream, 0, stream.length, rawLen)
    }
  }

  /** The encoder never nests word-model frames (the dict blob is encoded
    * with allowWordModel=false), so a frame whose DICT is itself mode 7/8
    * is hostile by construction — rejecting it bounds decode recursion at
    * depth 1 instead of letting a crafted chain of nested dicts blow the
    * stack. */
  private def decodeInner(bytes: Array[Byte], allowWordModel: Boolean): Array[Byte] = {
    if (bytes.length < 7) throw TruncatedException
    if (bytes(0) != MagicG || bytes(1) != MagicS)
      throw CorruptException("fsst bad magic")
    val end = bytes.length - 4
    val crc = new CRC32
    crc.update(bytes, 0, end)
    if (crc.getValue.toInt != TokenCodec.readIntLE(bytes, end))
      throw CorruptException("fsst crc mismatch")
    val r = new Varint.Reader(bytes, 3, end)
    val mode = bytes(2)
    // bound-check in Long BEFORE the narrowing (as decodeShared does): a
    // varint >= 2^31 would otherwise narrow to a negative or wrapped Int and
    // surface as an untyped copyOfRange / array-size error. CRC32 is no
    // defence — a hostile frame recomputes it
    val rawLenL = r.read()
    if (rawLenL < 0L || rawLenL > Int.MaxValue)
      throw CorruptException("fsst raw length")
    val rawLen = rawLenL.toInt
    mode match {
      case 0 =>
        if (r.pos.toLong + rawLen > end) throw TruncatedException
        java.util.Arrays.copyOfRange(bytes, r.pos, r.pos + rawLen)
      case 4 =>
        val out = Huffman.decode(bytes, r.pos, end)
        if (out.length != rawLen) throw CorruptException("huffman raw length")
        out
      case 6 =>
        val out = Huffman.decode(bytes, r.pos, end, Huffman.Order1)
        if (out.length != rawLen) throw CorruptException("o1 raw length")
        out
      case 9 =>
        val out = Huffman.decode(bytes, r.pos, end, Huffman.Order1Full)
        if (out.length != rawLen) throw CorruptException("o1w raw length")
        out
      case 7 | 8 =>
        if (!allowWordModel) throw CorruptException("nested word-model frame")
        // bound check in LONG arithmetic: a hostile varint near Int.MaxValue
        // would overflow `r.pos + dictLen` to negative and slip past an int
        // compare, surfacing as an untyped copyOfRange error instead of the
        // typed Truncated the decode contract promises
        val dictLenL = r.read()
        if (dictLenL < 0 || dictLenL > Int.MaxValue ||
            r.pos.toLong + dictLenL > end) throw TruncatedException
        val dictLen = dictLenL.toInt
        val dictFrame = java.util.Arrays.copyOfRange(bytes, r.pos, r.pos + dictLen)
        val entries = WordModel.unpackDict(decodeInner(dictFrame, false))
        val p = r.pos + dictLen
        val ids: Array[Int] =
          if (mode == 7) TokenCodec.decodeRange(bytes, p, end) match {
            case Decoded(v) => v
            case Truncated  => throw TruncatedException
            case Corrupt(m) => throw CorruptException(m)
          } else {
            val b = Huffman.decode(bytes, p, end, Huffman.Order1Full)
            val v = new Array[Int](b.length)
            var i = 0
            while (i < b.length) { v(i) = b(i) & 0xff; i += 1 }
            v
          }
        var total = 0L
        var i = 0
        while (i < ids.length) {
          if (ids(i) < 0 || ids(i) >= entries.length)
            throw CorruptException("word id out of dict")
          total += entries(ids(i)).length
          i += 1
        }
        if (total != rawLen) throw CorruptException("word model raw length")
        val out = new Array[Byte](rawLen)
        var o = 0
        i = 0
        while (i < ids.length) {
          val e = entries(ids(i))
          System.arraycopy(e, 0, out, o, e.length)
          o += e.length
          i += 1
        }
        out
      case 1 | 2 | 3 | 5 =>
        if (r.pos >= end) throw TruncatedException
        val nSym = bytes(r.pos) & 0xff
        var p = r.pos + 1
        val symbols = new Array[Array[Byte]](nSym)
        var i = 0
        while (i < nSym) {
          if (p >= end) throw TruncatedException
          val len = bytes(p) & 0xff
          p += 1
          if (p + len > end) throw TruncatedException
          symbols(i) = java.util.Arrays.copyOfRange(bytes, p, p + len)
          p += len
          i += 1
        }
        if (mode == 1)
          decompressWith(new SymbolTable(symbols), bytes, p, end, rawLen)
        else if (mode == 3) {
          val stream = Huffman.decode(bytes, p, end)
          decompressWith(new SymbolTable(symbols), stream, 0, stream.length, rawLen)
        } else if (mode == 5) {
          val stream = Huffman.decode(bytes, p, end, Huffman.Order1)
          decompressWith(new SymbolTable(symbols), stream, 0, stream.length, rawLen)
        } else {
          // unpack the second-stage code stream back to bytes first
          val codes = TokenCodec.decodeRange(bytes, p, end) match {
            case Decoded(v) => v
            case Truncated  => throw TruncatedException
            case Corrupt(m) => throw CorruptException(m)
          }
          val stream = new Array[Byte](codes.length)
          i = 0
          while (i < codes.length) {
            if (codes(i) < 0 || codes(i) > 255)
              throw CorruptException("fsst packed code out of range")
            stream(i) = codes(i).toByte
            i += 1
          }
          decompressWith(new SymbolTable(symbols), stream, 0, stream.length, rawLen)
        }
      case 10 | 11 | 14 => // typed and loud: NEVER silently wrong rows
        throw CorruptException("shared-dict frame: external table required")
      case m => throw CorruptException(s"fsst mode $m")
    }
  }
}
