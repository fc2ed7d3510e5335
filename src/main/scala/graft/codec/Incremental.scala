package graft.codec

/** Incremental encoder — the reference's streaming protocol
  * (`Ppmd7Encoder.encode()` called piecewise + `flush()`,
  * `/root/reference/src/ext/_ppmdmodule.c:793-896`) recast for token
  * vectors: feed() accumulates tokens and emits a framed chunk whenever the
  * chunk budget fills; flush() emits the tail and an end-of-stream mark.
  *
  * Split invariance (the reference's `test_ppmd7.py:23-28`: encoding in k
  * pieces equals one-shot, byte for byte): blocks are cut at FIXED offsets
  * within each chunk, never at feed boundaries, so the output depends only
  * on the concatenated token stream.
  *
  * Stream framing: each emitted chunk is a standard TokenCodec frame
  * prefixed with a varint length; flush appends varint 0 — the endmark
  * (`flush(endmark=True)` analog, `_ppmdmodule.c:1583-1608`).
  */
final class IncrementalTokenEncoder(chunkTokens: Int = 1 << 20) {
  require(chunkTokens >= BlockCodec.MinTokens)
  private var buf = new Array[Int](math.min(chunkTokens, 1 << 16))
  private var n = 0
  private var flushed = false
  private val out = new java.io.ByteArrayOutputStream()

  /** Feed a slice of the token stream; any number of calls, any split. */
  def feed(tokens: Array[Int]): Unit = {
    require(!flushed, "feed after flush (reference raises the same)")
    var off = 0
    while (off < tokens.length) {
      val take = math.min(tokens.length - off, chunkTokens - n)
      if (n + take > buf.length)
        buf = java.util.Arrays.copyOf(buf,
          math.max(buf.length * 2, n + take))
      System.arraycopy(tokens, off, buf, n, take)
      n += take
      off += take
      if (n == chunkTokens) emit()
    }
  }

  private def emit(): Unit = {
    val framed = TokenCodec.encodeAuto(java.util.Arrays.copyOf(buf, n))
    Varint.write(out, framed.length.toLong)
    out.write(framed, 0, framed.length)
    n = 0
  }

  /** Close the stream: emit the partial tail chunk plus the endmark. */
  def flush(): Array[Byte] = {
    require(!flushed, "flush twice (reference raises the same)")
    if (n > 0) emit()
    Varint.write(out, 0L) // endmark
    flushed = true
    out.toByteArray
  }
}

/** Incremental decoder twin: consumes the length-delimited chunk stream,
  * exposing eof / needsInput like the reference's decoder flags
  * (`_ppmdmodule.c:540-555`). */
final class IncrementalTokenDecoder {
  // buffered-but-unconsumed stream bytes live in pending[off, pending.length);
  // off advances per decoded frame and the array is compacted only when a
  // feed arrives, so N tiny feeds cost O(total bytes), not O(N * total).
  private var pending = Array.emptyByteArray
  private var off = 0
  private var eofSeen = false
  def eof: Boolean = eofSeen
  def needsInput: Boolean = !eofSeen

  /** Feed more stream bytes; returns all tokens decodable so far. */
  def decode(bytes: Array[Byte]): Array[Int] = {
    require(!eofSeen, "decode after eof")
    if (pending.length == off) { pending = bytes; off = 0 }
    else {
      val live = pending.length - off
      val merged = new Array[Byte](live + bytes.length)
      System.arraycopy(pending, off, merged, 0, live)
      System.arraycopy(bytes, 0, merged, live, bytes.length)
      pending = merged
      off = 0
    }
    val acc = scala.collection.mutable.ArrayBuilder.make[Int]
    var progressing = true
    while (progressing && !eofSeen) {
      progressing = false
      val r = new Varint.Reader(pending)
      r.pos = off
      try {
        val len = r.read().toInt
        if (len == 0) {
          eofSeen = true
          off = r.pos
        } else if (r.pos + len <= pending.length) {
          val frame = java.util.Arrays.copyOfRange(pending, r.pos, r.pos + len)
          // The full declared frame is present: a Truncated from the inner
          // decode means the frame LIES about its contents (e.g. a row count
          // larger than the payload) — that is corruption, not missing
          // input; swallowing it would stall the stream forever.
          acc ++= (try TokenCodec.decodeOrThrow(frame)
          catch {
            case TruncatedException => throw new CorruptException(
              "frame payload shorter than its declared contents")
          })
          off = r.pos + len
          progressing = true
        }
      } catch { case TruncatedException => () /* need more input */ }
    }
    acc.result()
  }

  /** Bytes past the endmark — `unused_data` (`_ppmdmodule.c:365-390`). */
  def unusedData: Array[Byte] =
    if (eofSeen) java.util.Arrays.copyOfRange(pending, off, pending.length)
    else Array.emptyByteArray
}
