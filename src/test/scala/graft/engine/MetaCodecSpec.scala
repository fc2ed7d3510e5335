package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import graft.GenChecks

/** Property suite for the round-4 meta machinery: front-coded string blobs
  * and shared-dictionary frames. The invariant that matters is the same as
  * the data path's: bit-identical roundtrip, and NEVER silently wrong —
  * every failure is a typed Corrupt/Truncated. */
class MetaCodecSpec extends AnyFunSuite with GenChecks {

  private val genId: Gen[String] = Gen.oneOf(
    Gen.chooseNum(0, Int.MaxValue).map(i => f"doc-$i%012d"),
    Gen.alphaNumStr.map(_.take(40)),
    Gen.listOfN(6, Gen.oneOf("α", "β", "💾", "a", "", "doc_", "\n", "\"", "\\"))
      .map(_.mkString))
  private val genIds: Gen[Array[String]] =
    Gen.nonEmptyListOf(genId).map(_.toArray)

  test("front-coded blob roundtrips ANY strings (unicode, empties, quotes)") {
    forAll(genIds, trials = 120) { ids =>
      val sortedLike = ids.sorted // chunk order is sorted, but ANY order works
      for (arr <- Seq(ids, sortedLike)) {
        val blob = ChunkBuilder.packStringsFront(arr)
        assert(ChunkBuilder.unpackStringsFront(blob).sameElements(arr))
        assert(ChunkBuilder.unpackStringsAuto(blob).sameElements(arr))
      }
    }
  }

  test("front-coded blobs never lose to truncation silently") {
    forAll(genIds, trials = 60) { ids =>
      val blob = ChunkBuilder.packStringsFront(ids)
      for (keep <- Seq(1, 2, blob.length / 2, blob.length - 1)
           if keep > 0 && keep < blob.length) {
        val cut = java.util.Arrays.copyOf(blob, keep)
        val r = try { ChunkBuilder.unpackStringsAuto(cut); None }
        catch {
          case e: graft.codec.CorruptException   => Some(e)
          case e: graft.codec.TruncatedException.type => Some(e)
        }
        // either a typed throw, or (rarely) a structurally valid prefix —
        // but NEVER the original array with rows silently dropped from the
        // middle or mangled content
        r match {
          case Some(_) => ()
          case None =>
            // a structurally-valid truncation may decode, but then it must
            // be an exact element-wise PREFIX of the original — never rows
            // silently dropped from the middle or mangled content
            val got = ChunkBuilder.unpackStringsAuto(cut)
            assert(got.length <= ids.length)
            got.zip(ids).foreach { case (g, o) => assert(g == o) }
        }
      }
    }
  }

  test("shared frames roundtrip under their dict; wrong dict fails typed") {
    val genBlob: Gen[Array[Byte]] = genIds.map(ChunkBuilder.packStringsFront)
    val dictA = MetaDict.train(ChunkBuilder.packStringsFront(
      Array.tabulate(500)(i => f"doc-$i%012d")))
    val dictB = MetaDict.train(ChunkBuilder.packStringsFront(
      Array.tabulate(500)(i => f"blob/${i * 31}%x/item")))
    assert(dictA.fingerprint != dictB.fingerprint)
    forAll(genBlob, trials = 80) { blob =>
      val enc = graft.codec.Fsst.encodeShared(dictA.fsst, dictA.o1Tables,
        dictA.fingerprint, blob)
      val back = graft.codec.Fsst.decodeShared(dictA.fsst, dictA.o1Tables,
        dictA.fingerprint, enc)
      assert(java.util.Arrays.equals(back, blob))
      // wrong-dict decode: typed failure for shared modes; inline-framed
      // fallbacks (self-contained) legitimately decode under any dict
      val mode = enc(2)
      if (mode == 10 || mode == 11 || mode == 14) {
        val e = intercept[graft.codec.CorruptException] {
          graft.codec.Fsst.decodeShared(dictB.fsst, dictB.o1Tables,
            dictB.fingerprint, enc)
        }
        assert(e.getMessage.contains("fingerprint"))
        // and a self-contained decoder must refuse them, not mis-decode
        intercept[graft.codec.CorruptException] {
          graft.codec.Fsst.decode(enc)
        }
      }
    }
  }

  test("shared-frame mutations and truncations terminate loud, never wrong") {
    val dict = MetaDict.train(ChunkBuilder.packStringsFront(
      Array.tabulate(400)(i => f"doc-$i%012d")))
    val blob = ChunkBuilder.packStringsFront(
      Array.tabulate(200)(i => f"doc-${i * 3}%012d"))
    val enc = graft.codec.Fsst.encodeShared(dict.fsst, dict.o1Tables,
      dict.fingerprint, blob)
    assert(enc(2) == 10 || enc(2) == 11 || enc(2) == 14) // shared mode won
    val rng = new scala.util.Random(42)
    (0 until 400).foreach { _ =>
      val bad = enc.clone()
      val at = rng.nextInt(bad.length)
      bad(at) = (bad(at) ^ (1 << rng.nextInt(8))).toByte
      try {
        graft.codec.Fsst.decodeShared(dict.fsst, dict.o1Tables,
          dict.fingerprint, bad)
        fail(s"bit flip at $at decoded despite the frame CRC")
      } catch {
        case _: graft.codec.CorruptException        => ()
        case graft.codec.TruncatedException         => ()
      }
    }
    (0 until enc.length).foreach { cut =>
      intercept[Exception] {
        graft.codec.Fsst.decodeShared(dict.fsst, dict.o1Tables,
          dict.fingerprint, java.util.Arrays.copyOf(enc, cut))
      }
    }
  }

  test("MetaDict serialization roundtrips; garbled bytes fail typed") {
    val d = MetaDict.train(ChunkBuilder.packStringsFront(
      Array.tabulate(300)(i => f"doc-$i%012d")))
    val bytes = MetaDict.toBytes(d)
    val back = MetaDict.fromBytes(bytes)
    assert(back.fingerprint == d.fingerprint)
    assert(java.util.Arrays.equals(back.o1Model, d.o1Model))
    intercept[graft.codec.CorruptException] {
      MetaDict.fromBytes(Array[Byte](9, 9, 9))
    }
    val cut = java.util.Arrays.copyOf(bytes, bytes.length / 2)
    intercept[Exception] { MetaDict.fromBytes(cut) } // typed Truncated/Corrupt
  }
}
