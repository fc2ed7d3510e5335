package graft.engine

/** The engine's row type, fixed by BASELINE.json `input_hint`:
  * one pre-tokenized training sequence. */
final case class SeqRow(
    doc_id: String,
    tokens: Array[Int],
    n_tok: Int,
    source: String)

/** One encoded column chunk: the tokens of `n_rows` consecutive sequences of
  * one partition slice, compressed under one auto-selected codec, plus the
  * framed side metadata needed to reconstruct the rows bit-identically.
  *
  * The reference keeps stream parameters out-of-band (decode with wrong
  * params silently corrupts — `/root/reference/src/ext/_ppmdmodule.c:157-174`);
  * we persist everything in-band: codec id + params live inside `payload`'s
  * framing, row boundaries + strings inside `meta`, integrity in CRCs.
  * This is the "manifest" of SURVEY.md §7 in row form. */
final case class EncodedChunk(
    chunk_id: Long, // (part_id << 32) | seq — deterministic given partitioning
    part_id: Int,
    seq: Int,
    codec: Int,           // graft.codec.CodecId of the token payload
    n_rows: Int,
    n_tokens: Long,
    raw_bytes: Long,      // 4 * n_tokens (the "store" floor)
    enc_bytes: Long,      // payload.length + meta.length
    crc32: Long,          // CRC of payload (duplicated from framing, for SQL)
    min_doc_id: String,   // chunk pruning bounds (zone-map analog)
    max_doc_id: String,
    min_tok: Int,         // token-VALUE bounds: content-predicate pruning
    max_tok: Int,         //   ("chunks that can contain token T") without decode
    tok_set: Array[Byte], // TokenSketch: exact-or-Bloom containment index
    payload: Array[Byte], // framed TokenCodec output over concatenated tokens
    meta: Array[Byte],    // framed side columns: row lens, sources, doc_ids
    // per-source (rows, tokens) for manifest-only GROUP BY source rollups
    // (SrcStats blob; manifest-side only — never framed into the data file)
    src_stats: Array[Byte] = Array.emptyByteArray)

/** Encoder knobs. Chunk sizing is the bounded-memory policy (analog of the
  * reference's mem_size arena cap, `Ppmd7.h:17-18`): a chunk's working set is
  * ~4B * chunkTokens + strings, so the default 1M tokens keeps every task
  * well under executor memory at any cluster scale. */
final case class EncoderConfig(
    chunkTokens: Int = ChunkSlicer.DefaultChunkTokens,
    numPartitions: Int = 0) { // 0 = keep upstream partitioning
  require(chunkTokens > 0)
}

/** Lexicographic UNSIGNED byte order over UTF-8 encodings — the order Spark
  * SQL string comparisons use (UTF8String). Java's String.compareTo orders
  * by UTF-16 code units, which DISAGREES for supplementary-plane characters
  * (a surrogate pair sorts below U+E000..U+FFFF in UTF-16 but above in
  * UTF-8). Zone-map doc_id bounds are pruned with Spark column predicates,
  * so the bounds computation and the exact row filters must all use THIS
  * order or an emoji doc_id could be pruned away while the row filter would
  * have kept it. */
/** The per-TABLE shared meta dictionary: an FSST symbol table (string-ish
  * content) plus a smoothed order-1 Huffman model (front-coded id blobs —
  * the measured winner: after front-coding, the O1 TABLE HEADER was the
  * dominant per-chunk cost, not the data bits). Both trained once on a
  * deterministic sample, stored once per lineage dir, coded against by
  * every chunk's doc_id section (Fsst modes 10/11/14). Serialized
  * [version=1][varint fsstLen][fsst][varint o1Len][o1 model]. */
final class MetaDict(val fsst: graft.codec.Fsst.SymbolTable,
                     val o1Model: Array[Byte]) {
  /** The order-1 model's code and decode tables, built once per dictionary
    * for every chunk that codes its doc_id section against it. */
  lazy val o1Tables: graft.codec.Huffman.Tables =
    graft.codec.Huffman.modelTables(o1Model)

  /** CRC32 of the serialized form, stored in every shared frame and checked
    * at decode: decoding against the WRONG (but internally valid)
    * dictionary must fail typed, never produce silently wrong strings. */
  lazy val fingerprint: Int = {
    val c = new java.util.zip.CRC32
    c.update(MetaDict.toBytes(this))
    c.getValue.toInt
  }
}

object MetaDict {
  def train(blob: Array[Byte]): MetaDict =
    new MetaDict(graft.codec.Fsst.train(blob),
      graft.codec.Huffman.trainModel(blob))

  def toBytes(d: MetaDict): Array[Byte] = {
    val f = graft.codec.Fsst.tableToBytes(d.fsst)
    val bos = new java.io.ByteArrayOutputStream(f.length + d.o1Model.length + 12)
    bos.write(1)
    graft.codec.Varint.write(bos, f.length.toLong)
    bos.write(f, 0, f.length)
    graft.codec.Varint.write(bos, d.o1Model.length.toLong)
    bos.write(d.o1Model, 0, d.o1Model.length)
    bos.toByteArray
  }

  def fromBytes(b: Array[Byte]): MetaDict = {
    if (b.isEmpty || b(0) != 1)
      throw graft.codec.CorruptException("meta dict version")
    val r = new graft.codec.Varint.Reader(b)
    r.pos = 1
    // Long-arithmetic bounds: _shared_dict.bin has no CRC of its own, so a
    // garbled length varint must fail TYPED here, not as an int-overflow
    // slipping into copyOfRange
    val fl = r.read()
    if (fl < 0 || fl > b.length.toLong - r.pos)
      throw graft.codec.TruncatedException
    val f = java.util.Arrays.copyOfRange(b, r.pos, r.pos + fl.toInt)
    r.pos += fl.toInt
    val ol = r.read()
    if (ol < 0 || ol > b.length.toLong - r.pos)
      throw graft.codec.TruncatedException
    val o = java.util.Arrays.copyOfRange(b, r.pos, r.pos + ol.toInt)
    new MetaDict(graft.codec.Fsst.tableFromBytes(f), o)
  }
}

/** Format-free deterministic 60-bit doc key: the first 15 hex chars of
  * md5(doc_id) — a pure function of the FULL id string with no id-scheme
  * assumptions, exactly expressible in both SQL dialects (Spark
  * `conv(substring(md5(x),1,15),16,10)`, DuckDB
  * `('0x'||substr(md5(x),1,15))::BIGINT`; 60 bits stays clear of signed
  * overflow in both). Engine-side uses: deterministic sampling for the
  * lineage shared-dict training; the query layer (split/pack/shared-dict
  * sampling) delegates here so the key can never drift between layers. */
object DocKey {
  def of(docId: String): Long = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(docId.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (h(i) & 0xffL); i += 1 }
    v >>> 4 // 16 hex chars read, keep the first 15 (60 bits, non-negative)
  }
}

object Utf8Order {
  def bytes(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  def compareBytes(x: Array[Byte], y: Array[Byte]): Int = {
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  def compare(a: String, b: String): Int = compareBytes(bytes(a), bytes(b))
  @inline def lt(a: String, b: String): Boolean = compare(a, b) < 0
  @inline def gt(a: String, b: String): Boolean = compare(a, b) > 0
  @inline def lte(a: String, b: String): Boolean = compare(a, b) <= 0
  @inline def gte(a: String, b: String): Boolean = compare(a, b) >= 0

  /** Range predicate with the bound encodings hoisted out of the per-row
    * path: one getBytes per ROW, zero per-bound (a naive gte/lte pair costs
    * four encodes per row on the decode hot path). */
  def inRange(loUtf8: Array[Byte], hiUtf8: Array[Byte])(s: String): Boolean = {
    val b = bytes(s)
    compareBytes(b, loUtf8) >= 0 && compareBytes(b, hiUtf8) <= 0
  }
}

/** Per-source/per-codec rollup row used by reports and SparkEntry queries. */
final case class EncodeReport(
    source: String,
    codec_name: String,
    n_chunks: Long,
    n_rows: Long,
    n_tokens: Long,
    raw_bytes: Long,
    enc_bytes: Long)
