package graft.codec

import org.scalatest.funsuite.AnyFunSuite

/** A length header whose codes oversubscribe the code space (Kraft sum over
  * 1) has no canonical code, so it must fail typed in every model, behind a
  * CRC-valid envelope too: a hostile frame recomputes its CRC. Each payload
  * gives class 0 three 1-bit codes and four symbols in one zero byte, which
  * a decoder without the check returns as wrong bytes of the right length. */
class HuffmanOversubscribedSpec extends AnyFunSuite {
  import FsstFixtures.frame

  /** [u8 lo = 0][u8 cntMinus1 = 2][lengths 1, 1, 1][varint 4][0x00] */
  private val classZero = Array[Byte](0, 2, 0x11, 0x10, 4, 0)

  // mode 4 is order-0; mode 6 is order-1 behind its u32 LE class mask; mode
  // 9 is full order-1 behind its 32-byte bitmap
  for ((mode, payload) <- Seq(
      4 -> classZero,
      6 -> (Array[Byte](1, 0, 0, 0) ++ classZero),
      9 -> ((1.toByte +: new Array[Byte](31)) ++ classZero)))
    test(s"mode $mode, oversubscribed class: CRC-valid frame -> CorruptException") {
      intercept[CorruptException](Fsst.decode(frame(mode, 4, payload)))
    }
}
