package graft.engine

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import graft.GenChecks
import Lineage.ManifestRow

/** The manifest line format: `manifestJson` then `parseManifestLine` gives
  * the row back for any row (doc_ids with control characters, quotes,
  * backslashes and surrogate pairs; extreme numbers; every sketch kind),
  * lines written before the packed sketch still parse to the same row,
  * optional fields take their defaults and required ones throw. */
class ManifestLineSpec extends AnyFunSuite with GenChecks {

  private def same(a: ManifestRow, b: ManifestRow): Boolean =
    a.copy(tok_set = null, src_stats = null) == b.copy(tok_set = null, src_stats = null) &&
      java.util.Arrays.equals(a.tok_set, b.tok_set) &&
      java.util.Arrays.equals(a.src_stats, b.src_stats)

  private def show(r: ManifestRow): String =
    s"$r tok_set=${r.tok_set.toSeq} src_stats=${r.src_stats.toSeq}"

  private val genChar: Gen[String] = Gen.frequency(
    4 -> Gen.alphaNumChar.map(_.toString),
    2 -> Gen.choose(0, 0x1f).map(_.toChar.toString), // control characters
    1 -> Gen.oneOf("\"", "\\", "/", "\u007f", "é", "€", "�"),
    1 -> Gen.choose(0x10000, 0x10ffff).map(cp => new String(Character.toChars(cp))))
  private val genStr: Gen[String] =
    Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, genChar)).map(_.mkString)

  private val genLong: Gen[Long] = Gen.oneOf(
    Gen.choose(Long.MinValue, Long.MaxValue),
    Gen.oneOf(Long.MinValue, Long.MaxValue, 0L, -1L, Int.MinValue.toLong, Int.MaxValue.toLong))
  private val genInt: Gen[Int] = Gen.oneOf(
    Gen.choose(Int.MinValue, Int.MaxValue), Gen.oneOf(Int.MinValue, Int.MaxValue, 0, -1))

  private val genSketch: Gen[Array[Byte]] = Gen.oneOf(
    Gen.const(Array.emptyByteArray),
    Gen.zip(Gen.choose(-50000, 50000), Gen.choose(1, 3000), Gen.choose(1, 60000))
      .map { case (lo, n, span) =>
        val rnd = new scala.util.Random(lo.toLong * 31 + n)
        val toks = Array.fill(n)(lo + rnd.nextInt(span))
        TokenSketch.build(toks, toks.min, toks.max) // mode 1
      },
    Gen.choose(1, 2000).map { n =>
      val toks = Array.tabulate(n)(i => i * 1000003) :+ Int.MinValue
      TokenSketch.build(toks, toks.min, toks.max) // mode 3
    })

  private val genBlob: Gen[Array[Byte]] = Gen.oneOf(
    Gen.const(Array.emptyByteArray),
    Gen.listOf(Gen.choose(-128, 127).map(_.toByte)).map(_.toArray))

  private val genRow: Gen[ManifestRow] = for {
    ints <- Gen.listOfN(6, genInt)
    longs <- Gen.listOfN(8, genLong)
    minDoc <- genStr
    maxDoc <- genStr
    sk <- genSketch
    src <- genBlob
  } yield ManifestRow(ints(0), ints(1), longs(0), ints(2), ints(3), longs(1),
    longs(2), longs(3), longs(4), longs(5), longs(6), minDoc, maxDoc,
    ints(4), ints(5), sk, src, gen = (longs(7) & 0xffff).toInt)

  test("write then parse gives the same row (through UTF-8 bytes too)") {
    forAll(genRow, trials = 400) { r =>
      val line = Lineage.manifestJson(r)
      assert(!line.exists(c => c < ' '), s"raw control character in $line")
      val back = Lineage.parseManifestLine(line)
      assert(same(back, r), s"\n${show(back)}\n!=\n${show(r)}")
      val viaFile = new String(line.getBytes(UTF_8), UTF_8)
      assert(same(Lineage.parseManifestLine(viaFile), r))
    }
  }

  /** A line as the engine wrote it before the packed sketch: the mode-1
    * bitmap as plain base64, in today's field order. */
  private def parentLine(r: ManifestRow): String = {
    val b64 = java.util.Base64.getEncoder
    def esc(s: String): String =
      s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString }
    s"""{"part_id":${r.part_id},"seq":${r.seq},"chunk_id":${r.chunk_id},""" +
      s""""codec":${r.codec},"n_rows":${r.n_rows},"n_tokens":${r.n_tokens},""" +
      s""""raw_bytes":${r.raw_bytes},"enc_bytes":${r.enc_bytes},"crc32":${r.crc32},""" +
      s""""offset":${r.offset},"length":${r.length},""" +
      s""""min_tok":${r.min_tok},"max_tok":${r.max_tok},""" +
      s""""tok_set":"${b64.encodeToString(r.tok_set)}",""" +
      s""""src_stats":"${b64.encodeToString(r.src_stats)}",""" +
      s""""gen":${r.gen},""" +
      s""""min_doc_id":"${esc(r.min_doc_id)}","max_doc_id":"${esc(r.max_doc_id)}"}"""
  }

  test("a parent-format line (mode-1 base64) parses to the same row") {
    forAll(genRow, trials = 200) { r =>
      val back = Lineage.parseManifestLine(parentLine(r))
      assert(same(back, r), s"\n${show(back)}\n!=\n${show(r)}")
    }
    // one line exactly as the previous engine wrote it
    val line = """{"part_id":3,"seq":1,"chunk_id":12884901889,"codec":7,""" +
      """"n_rows":2,"n_tokens":6,"raw_bytes":24,"enc_bytes":40,"crc32":4023233417,""" +
      """"offset":0,"length":52,"min_tok":5,"max_tok":12,"tok_set":"AQih",""" +
      """"src_stats":"","gen":2,"min_doc_id":"a""" + "\\u0009" +
      """b","max_doc_id":"q\"\\z"}"""
    val r = Lineage.parseManifestLine(line)
    assert(same(r, ManifestRow(3, 1, 12884901889L, 7, 2, 6, 24, 40, 4023233417L,
      0, 52, "a\tb", "q\"\\z", 5, 12, Array[Byte](1, 8, 0xa1.toByte),
      Array.emptyByteArray, gen = 2)), show(r))
  }

  test("the writer stores a dense bitmap as mode 4 and the parse restores mode 1") {
    val rnd = new scala.util.Random(3)
    val toks = Array.fill(16384)((50257 * math.pow(rnd.nextDouble(), 3)).toInt)
    val sk = TokenSketch.build(toks, toks.min, toks.max)
    val r = ManifestRow(0, 0, 0L, 0, 1, toks.length.toLong, 0L, 0L, 0L, 0L, 0L,
      "a", "b", toks.min, toks.max, sk)
    val line = Lineage.manifestJson(r)
    val onDisk = java.util.Base64.getDecoder.decode(
      """"tok_set":"([^"]*)"""".r.findFirstMatchIn(line).get.group(1))
    assert(onDisk(0) == 4 && onDisk.length < sk.length, s"${onDisk.length} vs ${sk.length}")
    assert(line.length < parentLine(r).length)
    assert(same(Lineage.parseManifestLine(line), r))
    // a corrupt packed sketch reads as the empty "unknown" sketch
    val bad = line.replaceFirst(""""tok_set":"[^"]*"""",
      s""""tok_set":"${java.util.Base64.getEncoder.encodeToString(onDisk.dropRight(1))}"""")
    assert(Lineage.parseManifestLine(bad).tok_set.isEmpty)
  }

  private val Optional = Seq("min_tok", "max_tok", "tok_set", "src_stats", "gen")
  private val Required = Seq("part_id", "seq", "chunk_id", "codec", "n_rows",
    "n_tokens", "raw_bytes", "enc_bytes", "crc32", "offset", "length",
    "min_doc_id", "max_doc_id")

  /** `line` without the field `k` (and the comma that joined it). */
  private def drop(line: String, k: String): String = {
    val out = line.replaceFirst(s""""$k":("(?:[^"\\\\]|\\\\.)*"|-?\\d+),?""", "")
      .replace(",}", "}")
    assert(out != line, s"$k not in $line")
    out
  }

  test("a line without the optional fields takes the defaults") {
    val r = ManifestRow(1, 2, 3L, 4, 5, 6L, 7L, 8L, 9L, 10L, 11L, "x", "y",
      20, 30, TokenSketch.build(Array(20, 25, 30), 20, 30),
      Array[Byte](1, 2, 3), gen = 4)
    val bare = Optional.foldLeft(Lineage.manifestJson(r))(drop)
    val back = Lineage.parseManifestLine(bare)
    assert(same(back, r.copy(min_tok = Int.MinValue, max_tok = Int.MaxValue,
      tok_set = Array.emptyByteArray, src_stats = Array.emptyByteArray, gen = 0)),
      show(back))
  }

  test("a line without a required field throws IllegalArgumentException") {
    val line = Lineage.manifestJson(ManifestRow(1, 2, 3L, 4, 5, 6L, 7L, 8L, 9L,
      10L, 11L, "x", "y", 20, 30, Array.emptyByteArray))
    Required.foreach { k =>
      val e = intercept[IllegalArgumentException](Lineage.parseManifestLine(drop(line, k)))
      assert(e.getMessage.contains(s"missing $k"), e.getMessage)
    }
    Seq("", "{", "not json", line.dropRight(1), line.replace(":", ";"))
      .foreach(l => intercept[IllegalArgumentException](Lineage.parseManifestLine(l)))
  }

  test("every JSON escape decodes, keys in any order, unknown keys skipped") {
    val line = """{ "max_doc_id" : "\/\b\f\n\r\té😀" , "future":"x\"y",""" +
      """"next":-7,"min_doc_id":"","part_id":0,"seq":0,"chunk_id":0,"codec":0,""" +
      """"n_rows":0,"n_tokens":0,"raw_bytes":0,"enc_bytes":0,"crc32":0,""" +
      """"offset":0,"length":0}"""
    val r = Lineage.parseManifestLine(line)
    assert(r.max_doc_id == "/\b\f\n\r\té😀")
    assert(r.min_doc_id == "" && r.gen == 0 && r.tok_set.isEmpty)
  }
}
