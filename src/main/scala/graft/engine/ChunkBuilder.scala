package graft.engine

import graft.codec._
import java.util.zip.CRC32

/** Pure (no Spark) chunk assembly/disassembly: rows -> EncodedChunk -> rows.
  *
  * meta blob layout, all sections individually framed + CRC'd:
  *   [varint lenA][A: TokenCodec(row n_tok values)]
  *   [varint lenB][B: TokenCodec(per-row source dict index)]
  *   [varint lenC][C: Fsst(source dictionary: varint count, then per entry
  *                     varint byteLen + utf8 bytes)]
  *   [varint lenD][D: Fsst(doc_ids, FRONT-CODED: marker 0x00, varint count,
  *                     then per row varint shared-prefix-len with the
  *                     previous id + varint suffix-len + suffix bytes;
  *                     legacy chunks hold the flat packStrings blob, whose
  *                     leading varint count >= 1 disambiguates)]
  *
  * Side columns ride the same machinery as tokens: lengths and dict indexes
  * go through the stats-driven TokenCodec (they're just int vectors), strings
  * through FSST — per SURVEY.md §7 module plan. Section D optionally codes
  * against a SHARED FSST table (Fsst mode 10/11) supplied by the caller —
  * the lineage layer trains one per table dir and stores it once, so chunks
  * stop paying a per-chunk symbol table for the one section that dominates
  * meta (72% of it at oracle scale was doc_ids).
  */
object ChunkBuilder {

  def build(partId: Int, seq: Int, docIds: Array[String],
            sources: Array[String], tokens: Array[Int],
            rowLens: Array[Int],
            sharedMeta: MetaDict = null): EncodedChunk =
    build(partId, seq, docIds, sources, tokens, tokens.length, rowLens,
      sharedMeta)

  /** `build` over the chunk's tokens tokens[0, nTok), so a writer can hand
    * over its row buffer without a copy. The token bounds and the sketch
    * come from the encode's own statistics, not from another pass. */
  def build(partId: Int, seq: Int, docIds: Array[String],
            sources: Array[String], tokens: Array[Int], nTok: Int,
            rowLens: Array[Int], sharedMeta: MetaDict): EncodedChunk = {
    val nRows = docIds.length
    require(sources.length == nRows && rowLens.length == nRows)

    val enc = TokenCodec.encodeAutoFrame(tokens, nTok, rowLens)
    val payload = enc.frame
    val codec = if (payload.length > 2) payload(2) else CodecId.Raw

    // source dictionary (chunk-local, order of first appearance)
    val srcDict = new java.util.LinkedHashMap[String, Integer]()
    val srcIdx = new Array[Int](nRows)
    var i = 0
    while (i < nRows) {
      val cur = srcDict.get(sources(i))
      if (cur != null) srcIdx(i) = cur.intValue()
      else { srcIdx(i) = srcDict.size(); srcDict.put(sources(i), srcIdx(i)) }
      i += 1
    }

    val secA = TokenCodec.encodeAuto(rowLens)
    val secB = TokenCodec.encodeAuto(srcIdx)
    val secC = Fsst.encode(packStrings(iterDict(srcDict)))
    val dBlob = packStringsFront(docIds)
    val secD =
      if (sharedMeta != null)
        Fsst.encodeShared(sharedMeta.fsst, sharedMeta.o1Tables,
          sharedMeta.fingerprint, dBlob)
      else Fsst.encode(dBlob)

    val meta = concatSections(secA, secB, secC, secD)
    val crc = new CRC32
    crc.update(payload)

    // bounds in UTF-8 binary order (Utf8Order doc): these are compared by
    // Spark column predicates at prune time, which use UTF8String order
    var minDoc = docIds(0); var maxDoc = docIds(0)
    i = 1
    while (i < nRows) {
      if (Utf8Order.lt(docIds(i), minDoc)) minDoc = docIds(i)
      if (Utf8Order.gt(docIds(i), maxDoc)) maxDoc = docIds(i)
      i += 1
    }
    // Inverted sentinels for a zero-token chunk: (MaxValue, MinValue) can
    // never satisfy `min_tok <= t && max_tok >= t`, so the zone map never
    // falsely claims containment of token 0 (min=max=0 would).
    val minTok = if (nTok == 0) Int.MaxValue else enc.min
    val maxTok = if (nTok == 0) Int.MinValue else enc.max
    val sketch =
      if (nTok == 0) Array.emptyByteArray
      else if (enc.distinct != null) TokenSketch.fromBitmap(enc.distinct, minTok, maxTok)
      else TokenSketch.build(
        if (tokens.length == nTok) tokens else java.util.Arrays.copyOf(tokens, nTok),
        minTok, maxTok)

    EncodedChunk(
      chunk_id = (partId.toLong << 32) | (seq.toLong & 0xffffffffL),
      part_id = partId, seq = seq, codec = codec.toInt,
      n_rows = nRows, n_tokens = nTok.toLong,
      raw_bytes = 4L * nTok,
      enc_bytes = payload.length.toLong + meta.length.toLong,
      crc32 = crc.getValue,
      min_doc_id = minDoc, max_doc_id = maxDoc,
      min_tok = minTok, max_tok = maxTok,
      tok_set = sketch,
      payload = payload, meta = meta,
      src_stats = SrcStats.encode(sources, rowLens))
  }

  /** Inverse of build. Throws Corrupt/Truncated exceptions on bad framing —
    * a corrupt chunk fails its Spark task (lineage retries just that chunk,
    * SURVEY.md §4.2 error taxonomy). A chunk whose doc_id section was coded
    * against a shared table needs that table back (`sharedMeta`); opening it
    * without one throws the TYPED shared-dict CorruptException — loud,
    * never silently wrong rows. */
  def open(c: EncodedChunk): Iterator[SeqRow] = open(c, null)

  def open(c: EncodedChunk, sharedMeta: MetaDict): Iterator[SeqRow] = {
    // row-sliced view OVER the columnar decode — one decode implementation
    // (openColumns carries all the validation), one slicing policy here
    val cols = openColumns(c, sharedMeta, withTokens = true,
      withDocIds = true)
    new Iterator[SeqRow] {
      private var row = 0
      private var off = 0
      def hasNext: Boolean = row < cols.nRows
      def next(): SeqRow = {
        val len = cols.rowLens(row)
        val toks = java.util.Arrays.copyOfRange(cols.tokens, off, off + len)
        val out = SeqRow(cols.docIds(row), toks, len,
          cols.srcDict(cols.srcIdx(row)))
        off += len
        row += 1
        out
      }
    }
  }

  /** Columnar view of a decoded chunk: the FLAT token array + per-row
    * lengths, exactly as the codec produced them — the shape a vectorized
    * reader consumes with one bulk copy per batch instead of one slice
    * allocation per row (`open` pays a copyOfRange + SeqRow + two boxed
    * strings per row; over 10^12 rows that per-row tax dominates the
    * codec). `tokens` is null when withTokens = false (payload untouched);
    * `docIds` null when withDocIds = false (doc_id section — the dominant
    * meta cost — untouched). Fully validated up front: token total, row
    * count, and every source index. */
  final case class ChunkColumns(docIds: StrBytes, rowLens: Array[Int],
                                srcIdx: Array[Int], srcDict: Array[String],
                                tokens: Array[Int], nRows: Int)

  def openColumns(c: EncodedChunk, sharedMeta: MetaDict, withTokens: Boolean,
                  withDocIds: Boolean): ChunkColumns = {
    val tokens =
      if (!withTokens) null
      else {
        val t = TokenCodec.decodeOrThrow(c.payload)
        if (t.length.toLong != c.n_tokens)
          throw CorruptException(s"chunk ${c.chunk_id}: token count mismatch")
        t
      }
    val (rowLens, srcIdx, srcDict, docIds) = openSections(c, sharedMeta,
      withDocIds)
    if (tokens != null) {
      var s = 0L
      var i = 0
      while (i < rowLens.length) { s += rowLens(i); i += 1 }
      if (s != tokens.length)
        throw CorruptException(s"chunk ${c.chunk_id}: row overrun")
    }
    var i = 0
    while (i < srcIdx.length) {
      if (srcIdx(i) < 0 || srcIdx(i) >= srcDict.length)
        throw CorruptException(s"chunk ${c.chunk_id}: source index")
      i += 1
    }
    ChunkColumns(docIds, rowLens, srcIdx, srcDict, tokens, c.n_rows)
  }

  /** Decode only the side metadata (source, n_tok per row) without touching
    * the token payload OR the doc_id section (the biggest meta section and
    * the only shared-dict one — so this path needs no dictionary at all). */
  def openMeta(c: EncodedChunk): Iterator[(String, Int)] = {
    val (rowLens, srcIdx, srcDict, _) = openSections(c, null,
      withDocIds = false)
    (0 until c.n_rows).iterator.map(i =>
      (srcOf(c, srcDict, srcIdx(i)), rowLens(i)))
  }

  /** ONE copy of the meta-decode prologue (section split, shared-dict
    * dispatch, validation) behind openColumns/openMeta — the pruned
    * paths can never silently diverge from the full one. docIds is null
    * when withDocIds = false. */
  private def openSections(c: EncodedChunk, sharedMeta: MetaDict,
                           withDocIds: Boolean)
      : (Array[Int], Array[Int], Array[String], StrBytes) = {
    val sections = splitSections(c.meta, 4)
    val rowLens = TokenCodec.decodeOrThrow(sections(0))
    val srcIdx = TokenCodec.decodeOrThrow(sections(1))
    val srcDict = unpackStrings(Fsst.decode(sections(2)))
    val docIds =
      if (!withDocIds) null
      else {
        val dBlob =
          if (sharedMeta != null)
            Fsst.decodeShared(sharedMeta.fsst, sharedMeta.o1Tables,
              sharedMeta.fingerprint, sections(3))
          else Fsst.decode(sections(3))
        unpackStringBytesAuto(dBlob)
      }
    if (rowLens.length != c.n_rows || srcIdx.length != c.n_rows ||
        (docIds != null && docIds.n != c.n_rows))
      throw CorruptException(s"chunk ${c.chunk_id}: row count mismatch")
    (rowLens, srcIdx, srcDict, docIds)
  }

  private def srcOf(c: EncodedChunk, srcDict: Array[String],
                    si: Int): String = {
    if (si < 0 || si >= srcDict.length)
      throw CorruptException(s"chunk ${c.chunk_id}: source index")
    srcDict(si)
  }

  // ---- string blob helpers --------------------------------------------------
  private def iterDict(m: java.util.LinkedHashMap[String, Integer]): Array[String] = {
    val out = new Array[String](m.size())
    val it = m.entrySet().iterator()
    while (it.hasNext) { val e = it.next(); out(e.getValue.intValue()) = e.getKey }
    out
  }

  def packStrings(ss: Array[String]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    Varint.write(bos, ss.length.toLong)
    var i = 0
    while (i < ss.length) {
      val b = ss(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      Varint.write(bos, b.length.toLong)
      bos.write(b, 0, b.length)
      i += 1
    }
    bos.toByteArray
  }

  /** Front-coded string blob (marker 0x00): varint n, then per row the
    * byte length of the shared prefix with the PREVIOUS string plus the
    * suffix. Chunk rows arrive sorted by (source, doc_id), so consecutive
    * doc_ids share long prefixes and the blob alone cuts the dominant meta
    * section ~4x before any entropy stage. Legacy flat blobs start with
    * varint n >= 1 (a chunk always holds a row), so the 0x00 marker is
    * unambiguous — unpackStringsAuto sniffs it. */
  def packStringsFront(ss: Array[String]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(0)
    Varint.write(bos, ss.length.toLong)
    var prev = Array.emptyByteArray
    var i = 0
    while (i < ss.length) {
      val b = ss(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var p = 0
      val max = math.min(prev.length, b.length)
      while (p < max && prev(p) == b(p)) p += 1
      Varint.write(bos, p.toLong)
      Varint.write(bos, (b.length - p).toLong)
      bos.write(b, p, b.length - p)
      prev = b
      i += 1
    }
    bos.toByteArray
  }

  /** A decoded string column as ONE concatenated UTF-8 buffer plus n+1
    * offsets — the byte-level form a vectorized reader hands straight to
    * `putByteArray` (row i is `bytes[offsets(i), offsets(i+1))`) with zero
    * per-row String or byte[] allocations. `apply` materializes a String
    * on demand for the row-at-a-time paths. This is the canonical decode
    * result; the Array[String] unpack functions are thin views over it, so
    * the byte path and the String path can never diverge. */
  final case class StrBytes(bytes: Array[Byte], offsets: Array[Int]) {
    def n: Int = offsets.length - 1
    def apply(i: Int): String = new String(bytes, offsets(i),
      offsets(i + 1) - offsets(i), java.nio.charset.StandardCharsets.UTF_8)
    def toStrings: Array[String] = Array.tabulate(n)(apply)
  }

  def unpackStringBytesFront(blob: Array[Byte]): StrBytes = {
    val r = new Varint.Reader(blob)
    r.pos = 1 // skip the 0x00 marker
    // ALL bounds in Long arithmetic with allocation caps derived from the
    // blob itself: a garbled varint must become a typed Corrupt/Truncated,
    // never an int-overflowed bounds pass, a NegativeArraySizeException, or
    // a multi-GB allocation (the same contract as Huffman's count guard)
    val nL = r.read()
    if (nL < 0 || nL > blob.length) throw CorruptException("front-coded blob count")
    val n = nL.toInt
    val offsets = new Array[Int](n + 1)
    var buf = new Array[Byte](math.max(64, math.min(blob.length * 4L,
      Int.MaxValue - 8L).toInt))
    var w = 0        // write cursor into buf
    var prevOff = 0  // previous row's region in buf (its prefix source)
    var prevLen = 0
    var i = 0
    while (i < n) {
      val pL = r.read()
      val sL = r.read()
      if (pL < 0 || pL > prevLen) throw CorruptException("front prefix")
      if (sL < 0 || sL > blob.length.toLong - r.pos) throw TruncatedException
      val p = pL.toInt
      val s = sL.toInt
      if (w.toLong + p + s > buf.length) {
        val want = math.max(buf.length * 2L, w.toLong + p + s)
        if (want > Int.MaxValue - 8) throw CorruptException("front-coded blob size")
        buf = java.util.Arrays.copyOf(buf, want.toInt)
      }
      // prefix comes from the previous row's bytes IN buf (regions never
      // overlap: w >= prevOff + prevLen)
      System.arraycopy(buf, prevOff, buf, w, p)
      System.arraycopy(blob, r.pos, buf, w + p, s)
      r.pos += s
      prevOff = w
      prevLen = p + s
      w += prevLen
      offsets(i + 1) = w
      i += 1
    }
    StrBytes(if (buf.length == w) buf else java.util.Arrays.copyOf(buf, w),
      offsets)
  }

  def unpackStringBytesFlat(blob: Array[Byte]): StrBytes = {
    val r = new Varint.Reader(blob)
    val nL = r.read()
    if (nL < 0 || nL > blob.length) throw CorruptException("string blob count")
    val n = nL.toInt
    val offsets = new Array[Int](n + 1)
    // flat payload bytes are a subset of the blob — one exact-bound alloc
    val buf = new Array[Byte](math.max(0, blob.length - r.pos))
    var w = 0
    var i = 0
    while (i < n) {
      val lenL = r.read()
      if (lenL < 0 || lenL > blob.length.toLong - r.pos) throw TruncatedException
      val len = lenL.toInt
      System.arraycopy(blob, r.pos, buf, w, len)
      r.pos += len
      w += len
      offsets(i + 1) = w
      i += 1
    }
    StrBytes(if (buf.length == w) buf else java.util.Arrays.copyOf(buf, w),
      offsets)
  }

  /** Dispatch on the blob marker: 0x00 = front-coded, else the legacy flat
    * layout (backward-readable: pre-r4 chunks decode unchanged). */
  def unpackStringBytesAuto(blob: Array[Byte]): StrBytes =
    if (blob.nonEmpty && blob(0) == 0) unpackStringBytesFront(blob)
    else unpackStringBytesFlat(blob)

  def unpackStringsFront(blob: Array[Byte]): Array[String] =
    unpackStringBytesFront(blob).toStrings

  def unpackStringsAuto(blob: Array[Byte]): Array[String] =
    unpackStringBytesAuto(blob).toStrings

  def unpackStrings(blob: Array[Byte]): Array[String] =
    unpackStringBytesFlat(blob).toStrings

  private def concatSections(secs: Array[Byte]*): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    secs.foreach { s => Varint.write(bos, s.length.toLong); bos.write(s, 0, s.length) }
    bos.toByteArray
  }

  private def splitSections(blob: Array[Byte], n: Int): Array[Array[Byte]] = {
    val r = new Varint.Reader(blob)
    val out = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      val len = r.read().toInt
      if (len < 0 || r.pos + len > blob.length) throw TruncatedException
      out(i) = java.util.Arrays.copyOfRange(blob, r.pos, r.pos + len)
      r.pos += len
      i += 1
    }
    out
  }
}
