package graft.codec

import org.scalatest.funsuite.AnyFunSuite

/** A frame whose CRC is valid but whose varint raw length does not fit an
  * Int must fail TYPED (CorruptException), never with a JVM array error:
  * the CRC is no defence, because anyone can recompute it over a hostile
  * header. */
class FsstRawLenSpec extends AnyFunSuite {
  import FsstFixtures.frame

  // mode 0 = stored raw; mode 1 = one-symbol table ("a") + one code
  private val payloads = Seq(
    0 -> Array[Byte]('x', 'y', 'z'),
    1 -> Array[Byte](1, 1, 'a', 0))

  for ((mode, payload) <- payloads; rawLen <- Seq(1L << 31, (1L << 32) - 1))
    test(s"mode $mode, rawLen $rawLen: CRC-valid frame -> CorruptException") {
      intercept[CorruptException](Fsst.decode(frame(mode, rawLen, payload)))
    }

  // rawLen 2^31-1 fits an Int, so only the code count bounds it: without
  // that bound each one-code frame below asks for a 2 GB output array
  // before reading its code
  private val table = new Fsst.SymbolTable(Array("a".getBytes("UTF-8")))
  private val dictFp = 0x12345678
  // shared mode 10: the dict fingerprint (little-endian), then one code
  private val sharedPayload = Array[Byte](0x78, 0x56, 0x34, 0x12, 0)

  test("mode 1, rawLen 2147483647 over one code -> CorruptException") {
    intercept[CorruptException](
      Fsst.decode(frame(1, Int.MaxValue.toLong, payloads(1)._2)))
  }

  test("shared mode 10, rawLen 2147483647 over one code -> CorruptException") {
    intercept[CorruptException](Fsst.decodeShared(table, null, dictFp,
      frame(10, Int.MaxValue.toLong, sharedPayload)))
  }

  test("the shared mode-10 frame with its true raw length decodes") {
    assert(Fsst.decodeShared(table, null, dictFp, frame(10, 1, sharedPayload))
      .sameElements("a".getBytes))
  }

  test("the same frames with their true raw length decode") {
    assert(Fsst.decode(frame(0, 3, payloads.head._2)).sameElements("xyz".getBytes))
    assert(Fsst.decode(frame(1, 1, payloads(1)._2)).sameElements("a".getBytes))
  }
}
