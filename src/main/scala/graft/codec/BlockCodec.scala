package graft.codec

/** Block-composite codec: split the vector at caller-chosen boundaries and
  * auto-select a codec per block (Parquet v2 miniblock spirit). A chunk
  * concatenates many rows of different shapes (runs, narrow windows, zipf,
  * uniform); one whole-chunk codec wastes bits on the mixture — per-block
  * selection adapts at fine grain, which is the lightweight answer to the
  * reference's per-symbol adaptive contexts
  * (`/root/reference/src/lib/ppmd/Ppmd7.c:661-710`).
  *
  * The best split is ROW-ALIGNED: one training sequence has one statistical
  * shape, so blocks that follow row boundaries (merging small rows up to a
  * minimum) are near-homogeneous; fixed 4096 splits are the fallback when no
  * row structure is known.
  *
  * Payload: [varint nBlocks][per block: varint byteLen + full TokenCodec
  * frame of that block]. Inner frames carry their own CRC; the outer frame's
  * CRC covers everything. Blocks never nest (inner codecs are flat).
  * Encode works on slices of the chunk vector — no per-block copies.
  */
object BlockCodec {
  final val BlockLen = 4096   // fixed-split fallback granularity
  final val MinBlockTokens = 256 // merge rows until a block has at least this
  /** Only consider splitting when the vector is at least this long. */
  final val MinTokens = 2 * MinBlockTokens

  /** Block end-offsets for fixed-size splitting. */
  def fixedSplits(n: Int): Array[Int] = {
    val nBlocks = (n + BlockLen - 1) / BlockLen
    Array.tabulate(nBlocks)(b => math.min((b + 1) * BlockLen, n))
  }

  /** Row-aligned block end-offsets: greedily merge consecutive rows until a
    * block holds >= MinBlockTokens tokens (long rows stand alone). */
  def rowSplits(rowLens: Array[Int]): Array[Int] = {
    val out = scala.collection.mutable.ArrayBuilder.make[Int]
    var acc = 0
    var end = 0
    var i = 0
    while (i < rowLens.length) {
      acc += rowLens(i)
      end += rowLens(i)
      if (acc >= MinBlockTokens) { out += end; acc = 0 }
      i += 1
    }
    if (acc > 0) out += end
    out.result()
  }

  /** Selection stats (`ChunkStats.select`) of each block of `values` split
    * at `splits`, which choose each block's codec and size the payload
    * (`payloadSize`) before any byte is written. */
  def analyze(values: Array[Int], splits: Array[Int]): Array[ChunkStats] = {
    val stats = new Array[ChunkStats](splits.length)
    var from = 0
    var b = 0
    while (b < splits.length) {
      stats(b) = ChunkStats.select(values, from, splits(b))
      from = splits(b)
      b += 1
    }
    stats
  }

  /** Exact payload size of the blocks with these stats. */
  def payloadSize(stats: Array[ChunkStats]): Int = {
    var total = Varint.len(stats.length.toLong)
    var b = 0
    while (b < stats.length) {
      val framedLen = TokenCodec.Overhead + stats(b).payloadSize(stats(b).bestCodec)
      total += Varint.len(framedLen.toLong) + framedLen
      b += 1
    }
    total
  }

  /** The blocks payload alone, allocated at its exact size (perfbench's
    * layer timings call it; the frame path uses `encodeInto`). */
  def encode(values: Array[Int], splits: Array[Int]): Array[Byte] = {
    val stats = analyze(values, splits)
    val out = new Array[Byte](payloadSize(stats))
    val end = encodeInto(values, splits, stats, out, 0)
    require(end == out.length, s"blocks size model mismatch: $end vs ${out.length}")
    out
  }

  /** Write the payload of `values` split at `splits`, with `stats` from
    * `analyze`, into `out` at `pos`; returns the end position. */
  def encodeInto(values: Array[Int], splits: Array[Int], stats: Array[ChunkStats],
                 out: Array[Byte], pos0: Int): Int = {
    var pos = Varint.write(out, pos0, splits.length.toLong)
    var from = 0
    var b = 0
    while (b < splits.length) {
      val st = stats(b)
      val framedLen = TokenCodec.Overhead + st.payloadSize(st.bestCodec)
      pos = Varint.write(out, pos, framedLen.toLong)
      pos = TokenCodec.encodeInto(st.bestCodec, values, from, splits(b), st,
        out, pos)
      from = splits(b)
      b += 1
    }
    pos
  }

  def decode(buf: Array[Byte], pos0: Int, limit: Int, n: Int,
             out: Array[Int]): Unit = decode(buf, pos0, limit, n, out, 0)

  /** Decode the n values of the blocks payload in [pos0, limit) into
    * out(at..), each block's frame in place (no copy of its bytes or of its
    * values). */
  def decode(buf: Array[Byte], pos0: Int, limit: Int, n: Int,
             out: Array[Int], at: Int): Unit = {
    val r = new Varint.Reader(buf, pos0, limit)
    val nBlocks = r.read().toInt
    if (nBlocks < 0) throw CorruptException("block count")
    var o = 0
    var b = 0
    while (b < nBlocks) {
      val len = r.read().toInt
      if (len < 0 || r.pos + len > limit) throw TruncatedException
      // header validated minimally (outer CRC already covered these bytes)
      if (len < TokenCodec.Overhead) throw TruncatedException
      val p = r.pos
      if (buf(p) != TokenCodec.MagicG || buf(p + 1) != TokenCodec.MagicT)
        throw CorruptException("block magic")
      val bn = TokenCodec.readIntLE(buf, p + 3)
      if (bn < 0 || o + bn > n) throw CorruptException("block overrun")
      val codec = buf(p + 2)
      if (codec == CodecId.Blocks) throw CorruptException("nested blocks")
      TokenCodec.decodeBody(codec, buf, p + TokenCodec.HeaderLen,
        p + len - TokenCodec.CrcLen, bn, out, at + o)
      o += bn
      r.pos += len
      b += 1
    }
    if (o != n) throw CorruptException(s"block underrun: $o of $n")
  }
}
