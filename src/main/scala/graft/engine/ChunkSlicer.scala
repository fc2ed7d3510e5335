package graft.engine

import scala.collection.mutable.ArrayBuilder

/** The chunk-boundary rule and its row buffers — the ONE copy behind every
  * writer that slices rows into chunks: `Encoder.chunkIterator` pulls rows
  * into it, the DSv2 sink and the replace-data writer push rows into it.
  * Chunk membership decides every stored byte, so all of them slice here.
  *
  * The rule: a chunk is `full` once it holds `chunkTokens` tokens or
  * `MaxRows` rows, and the next row starts a new chunk. A row is never
  * split, so a chunk may end past the token budget by its last row, and
  * every chunk but a partition's last is full. Per partition:
  * `if (full) emit(take()); add(row)` for each row, then
  * `if (nonEmpty) emit(take())`. `take` numbers the chunks 0, 1, 2, … */
final class ChunkSlicer(partId: Int, chunkTokens: Int, dict: MetaDict) {
  require(chunkTokens > 0, s"chunkTokens must be positive, got $chunkTokens")
  private val docIds = ArrayBuilder.make[String]
  private val sources = ArrayBuilder.make[String]
  private val lens = new ArrayBuilder.ofInt
  private var toks = new Array[Int](math.min(chunkTokens, 1 << 16))
  private var nTok = 0
  private var nRows = 0
  private var seq = 0

  def full: Boolean =
    nRows > 0 && (nTok >= chunkTokens || nRows >= ChunkSlicer.MaxRows)
  def nonEmpty: Boolean = nRows > 0
  /** Chunks taken so far. */
  def taken: Int = seq

  def add(docId: String, source: String, tokens: Array[Int]): Unit =
    add(docId, source, tokens.length)(System.arraycopy(tokens, 0, _, _, tokens.length))

  /** Add a row of n tokens that `copy(buf, at)` writes straight into the
    * row buffer at buf(at until at + n). */
  def add(docId: String, source: String, n: Int)(copy: (Array[Int], Int) => Unit): Unit = {
    if (nTok + n > toks.length) {
      val want = math.max(toks.length * 2L, nTok.toLong + n)
      toks = java.util.Arrays.copyOf(toks,
        math.min(want, Int.MaxValue - 8).toInt)
    }
    copy(toks, nTok)
    docIds += docId
    sources += source
    lens += n
    nTok += n
    nRows += 1
  }

  /** Encode the buffered rows as the next chunk and empty the buffers. The
    * encoder reads the tokens in place: no chunk keeps the row buffer. */
  def take(): EncodedChunk = {
    val c = ChunkBuilder.build(partId, seq, docIds.result(), sources.result(),
      toks, nTok, lens.result(), dict)
    docIds.clear(); sources.clear(); lens.clear()
    nTok = 0; nRows = 0; seq += 1
    c
  }
}

object ChunkSlicer {
  /** Row cap per chunk, whatever the token budget. */
  final val MaxRows = 1 << 16
  /** Token budget of writers that take no `chunkTokens` option. */
  final val DefaultChunkTokens = 1 << 20
}
