package graft.codec

import java.util.zip.CRC32

import org.scalacheck.Gen

/** Frame builder and seeded inputs shared by the FSST specs. */
object FsstFixtures {

  /** magic, mode, varint rawLen, payload, CRC32 (little-endian) over all
    * preceding bytes — the frame layout `Fsst.decode` checks. */
  def frame(mode: Int, rawLen: Long, payload: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bos.write('G'); bos.write('S'); bos.write(mode)
    Varint.write(bos, rawLen)
    bos.write(payload)
    val body = bos.toByteArray
    val crc = new CRC32
    crc.update(body, 0, body.length)
    val c = crc.getValue.toInt
    body ++ Array[Byte](c.toByte, (c >>> 8).toByte, (c >>> 16).toByte,
      (c >>> 24).toByte)
  }

  def mix(z0: Long): Long = {
    var z = z0 ^ 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Markov word chain over a small vocabulary — the text shape the word
    * model exists for (documents.parquet is this shape too). */
  def markovText(nWords: Int, vocab: Int, seed: Long): Array[Byte] = {
    val words = Array.tabulate(vocab)(i => s"w${i}term${i % 7}")
    val sb = new StringBuilder
    var state = 0
    var i = 0
    while (i < nWords) {
      sb.append(words(state))
      sb.append(if (i % 17 == 16) "\n" else " ")
      // skewed transitions: few successors per state
      state = ((mix(seed + i * 31L + state) >>> 33) % 3 + state * 7).toInt % vocab
      i += 1
    }
    sb.toString.getBytes("UTF-8")
  }

  /** Class-conditioned alphabet: strong order-1 structure, no long
    * repeats. */
  def markovBytes(n: Int, seed: Long): Array[Byte] = {
    val rng = new graft.io.Corpus.Rng(seed)
    val data = new Array[Byte](n)
    var prev = 0
    var i = 0
    while (i < data.length) {
      data(i) = (32 + (((prev % 7) * 17 + rng.nextInt(12)) % 64)).toByte
      prev = data(i) & 0xff
      i += 1
    }
    data
  }

  /** Random words from a ten-word vocabulary. */
  def wordText(nWords: Int, seed: Long): Array[Byte] = {
    val words = Array("the", "of", "compression", "spark", "token",
      "column", "a", "entropy", "static", "chunk")
    val rng = new graft.io.Corpus.Rng(seed)
    Array.fill(nWords)(words(rng.nextInt(words.length))).mkString(" ").getBytes
  }

  /** `n` Corpus-style doc ids, concatenated. */
  def idLike(n: Int): Array[Byte] =
    (0 until n).map(i => f"doc-$i%012d").mkString.getBytes

  /** Front-coded doc_id sections as a chunk of `n` consecutive Corpus rows
    * from row `first` holds them. */
  def frontCodedIds(first: Long, n: Int): Array[Byte] =
    graft.engine.ChunkBuilder.packStringsFront(
      Array.tabulate(n)(i => f"doc-${first + i}%012d"))

  val byteStrings: Gen[Array[Byte]] = Gen.oneOf(
    Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray),
    Gen.listOf(Gen.oneOf('a'.toByte, 'b'.toByte, ' '.toByte)).map(_.toArray),
    Gen.const("doc-000000000001doc-000000000002doc-000000000003".getBytes),
    Gen.const(Array.emptyByteArray))
}
