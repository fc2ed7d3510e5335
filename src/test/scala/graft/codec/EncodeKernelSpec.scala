package graft.codec

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import graft.GenChecks

/** `Huffman.encode` against the stream encoder it replaced: same bytes on
  * every input, and a round trip through `decode`. */
class HuffmanEncodeSpec extends AnyFunSuite with GenChecks {
  /** The encoder before the exact-size rewrite: a ByteArrayOutputStream fed
    * one byte at a time. */
  private def streamEncode(data: Array[Byte]): Array[Byte] = {
    val freq = new Array[Long](256)
    data.foreach(b => freq(b & 0xff) += 1)
    val lens = Huffman.codeLengths(freq)
    val codes = Huffman.canonicalCodes(lens)
    val bos = new java.io.ByteArrayOutputStream()
    var lo = 0
    while (lo < 255 && lens(lo) == 0) lo += 1
    var hi = 255
    while (hi > lo && lens(hi) == 0) hi -= 1
    bos.write(lo)
    bos.write(hi - lo)
    var i = lo
    while (i <= hi) {
      bos.write((lens(i) << 4) | (if (i + 1 <= hi) lens(i + 1) else 0))
      i += 2
    }
    var v = data.length.toLong
    while ((v & ~0x7fL) != 0L) { bos.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    bos.write(v.toInt)
    var acc = 0L
    var nBits = 0
    data.foreach { b =>
      val s = b & 0xff
      acc = (acc << lens(s)) | codes(s).toLong
      nBits += lens(s)
      while (nBits >= 8) { nBits -= 8; bos.write(((acc >>> nBits) & 0xff).toInt) }
    }
    if (nBits > 0) bos.write(((acc << (8 - nBits)) & 0xff).toInt)
    bos.toByteArray
  }

  private def check(data: Array[Byte]): Unit = {
    val enc = Huffman.encode(data)
    assert(enc.sameElements(streamEncode(data)), s"${data.length} bytes")
    assert(Huffman.decode(enc, 0, enc.length).sameElements(data))
  }

  test("empty, single-symbol and one-byte inputs") {
    check(Array.emptyByteArray)
    check(Array(0.toByte))
    check(Array(255.toByte))
    check(Array.fill(1)('q'.toByte))
    check(Array.fill(100000)('z'.toByte))
  }

  test("skewed inputs, including code lengths at the 15-bit cap") {
    val rng = new graft.io.Corpus.Rng(3L)
    check(Array.fill(20000)(if (rng.nextInt(10) == 0) 'b'.toByte else 'a'.toByte))
    // fibonacci frequencies force the length-limiting retry
    val fib = Iterator.iterate((1, 1)) { case (a, b) => (b, a + b) }.map(_._1).take(24).toArray
    check(fib.zipWithIndex.flatMap { case (f, s) => Array.fill(f)(s.toByte) })
    check(TokenCodec.encodeAuto(Array.fill(70000)(rng.nextInt(1 << rng.nextInt(16)))))
  }

  test("random inputs") {
    val bytes = Gen.oneOf(
      Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)),
      Gen.listOf(Gen.oneOf(1.toByte, 2.toByte, 3.toByte, 200.toByte)),
      Gen.choose(0, 50000).map(n => List.tabulate(n)(i => (i * i % 251).toByte)))
    forAll(bytes.map(_.toArray), trials = 200)(check)
  }
}

/** `Fsst.train` against the trainer it replaced (boxed pair maps, String
  * candidate keys, a full sort): the same symbol table on every input, and
  * the same greedy code stream from `compressWith`. */
class FsstTrainSpec extends AnyFunSuite with GenChecks {
  import FsstTrainSpec._

  private def check(data: Array[Byte]): Unit = {
    val got = Fsst.train(data).symbols
    val want = oracleTrain(data)
    assert(got.length == want.length, s"${data.length} bytes: table sizes")
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(g.sameElements(w), s"${data.length} bytes: symbol $i")
    }
    val table = new Fsst.SymbolTable(want)
    assert(Fsst.compressWith(table, data).sameElements(oracleCompress(want, data)))
  }

  test("random bytes") {
    forAll(Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray), trials = 60)(check)
    val rng = new graft.io.Corpus.Rng(17L)
    check(Array.fill(40000)(rng.nextInt(256).toByte)) // sampled path
  }

  test("front-coded doc_id blobs") {
    val rng = new scala.util.Random(23)
    for (n <- Seq(1, 50, 750, 3000)) {
      val ids = Array.fill(n)(f"doc-${rng.nextInt(12000000)}%012d").sorted
      check(graft.engine.ChunkBuilder.packStringsFront(ids))
      check(graft.engine.ChunkBuilder.packStrings(rng.shuffle(ids.toSeq).toArray))
    }
  }

  test("text") {
    val words = Array("the", "of", "compression", "spark", "token", "column",
      "a", "entropy", "static", "chunk", "über", "naïve")
    val rng = new graft.io.Corpus.Rng(9L)
    for (n <- Seq(3, 200, 5000))
      check(Array.fill(n)(words(rng.nextInt(words.length))).mkString(" ").getBytes("UTF-8"))
    check(Array.emptyByteArray)
  }
}

object FsstTrainSpec {
  private def sample(data: Array[Byte], sampleLimit: Int): Array[Byte] =
    if (data.length <= sampleLimit) data
    else {
      val nSlices = 16
      val slice = sampleLimit / nSlices
      val out = new Array[Byte](slice * nSlices)
      val stride = (data.length - slice).toDouble / (nSlices - 1)
      for (k <- 0 until nSlices) {
        val start = math.min(math.round(k * stride), (data.length - slice).toLong).toInt
        System.arraycopy(data, start, out, k * slice, slice)
      }
      out
    }

  /** Symbol indexes by first byte, longest first; among equal lengths the
    * highest index first. */
  private def buckets(symbols: Array[Array[Byte]]): Array[Array[Int]] = {
    val tmp = Array.fill(256)(List.empty[Int])
    for (i <- symbols.indices) tmp(symbols(i)(0) & 0xff) ::= i
    tmp.map(_.sortBy(i => -symbols(i).length).toArray)
  }

  private def findLongest(symbols: Array[Array[Byte]], bk: Array[Array[Int]],
                          data: Array[Byte], pos: Int): Int =
    bk(data(pos) & 0xff).find { si =>
      val s = symbols(si)
      pos + s.length <= data.length && s.indices.forall(j => data(pos + j) == s(j))
    }.getOrElse(-1)

  def oracleCompress(symbols: Array[Array[Byte]], data: Array[Byte]): Array[Byte] = {
    val bk = buckets(symbols)
    val out = new java.io.ByteArrayOutputStream()
    var pos = 0
    while (pos < data.length) {
      val si = findLongest(symbols, bk, data, pos)
      if (si >= 0) { out.write(si); pos += symbols(si).length }
      else { out.write(Fsst.EscapeCode); out.write(data(pos) & 0xff); pos += 1 }
    }
    out.toByteArray
  }

  def oracleTrain(data: Array[Byte]): Array[Array[Byte]] = {
    val s = sample(data, 1 << 14)
    var symbols = Array.empty[Array[Byte]]
    for (_ <- 0 until 4) symbols = refine(symbols, s)
    symbols
  }

  private def refine(symbols: Array[Array[Byte]], sample: Array[Byte]): Array[Array[Byte]] = {
    val nSym = symbols.length
    val bk = buckets(symbols)
    val freq1 = new Array[Long](nSym + 256)
    val pairGain = new java.util.HashMap[Long, Array[Long]]()
    var pos = 0
    var prev = -1
    while (pos < sample.length) {
      val si = if (nSym == 0) -1 else findLongest(symbols, bk, sample, pos)
      val (code, len) =
        if (si >= 0) (si, symbols(si).length) else (nSym + (sample(pos) & 0xff), 1)
      freq1(code) += 1
      if (prev >= 0)
        pairGain.computeIfAbsent(prev.toLong << 32 | code.toLong, _ => new Array[Long](1))(0) += 1
      prev = code
      pos += len
    }
    def codeBytes(c: Int): Array[Byte] =
      if (c < nSym) symbols(c) else Array((c - nSym).toByte)
    def key(bytes: Array[Byte]): String = new String(bytes.map(b => (b & 0xff).toChar))
    val cand = new java.util.HashMap[String, (Array[Byte], Long)]()
    def offer(bytes: Array[Byte], gain: Long): Unit = {
      if (bytes.length > Fsst.MaxSymbolLen) return
      val cur = cand.get(key(bytes))
      if (cur == null || cur._2 < gain) cand.put(key(bytes), (bytes, gain))
    }
    for (c <- freq1.indices if freq1(c) > 0) offer(codeBytes(c), freq1(c) * codeBytes(c).length)
    pairGain.forEach { (k, cnt) =>
      val merged = codeBytes((k >>> 32).toInt) ++ codeBytes((k & 0xffffffffL).toInt)
      offer(merged, cnt(0) * merged.length)
    }
    import scala.jdk.CollectionConverters._
    cand.values.asScala.toArray
      .sortBy { case (bytes, gain) => (-gain, bytes.length, key(bytes)) }
      .take(Fsst.MaxSymbols)
      .map(_._1)
  }
}
