package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import graft.GenChecks

/** TokenSketch invariants. The one that matters for correctness is NO FALSE
  * NEGATIVES: a sketch that denies a token the chunk actually holds would
  * silently drop rows from a containment-probed scan. False positives only cost
  * a wasted decode; selectivity is asserted statistically for both modes. */
class TokenSketchSpec extends AnyFunSuite with GenChecks {

  private def bounds(toks: Array[Int]): (Int, Int) =
    if (toks.isEmpty) (Int.MaxValue, Int.MinValue) else (toks.min, toks.max)

  private val genVocabToks: Gen[Array[Int]] = // bitmap mode (range <= 2^16)
    Gen.nonEmptyListOf(Gen.choose(0, 50256)).map(_.toArray)

  private val genWideToks: Gen[Array[Int]] = // bloom mode (huge range)
    Gen.nonEmptyListOf(Gen.oneOf(
      Gen.choose(Int.MinValue, Int.MaxValue),
      Gen.choose(-5, 5))).map(_.toArray)

  test("bitmap mode: exact containment (no false negatives, no false positives)") {
    forAll(genVocabToks, trials = 80) { toks =>
      val (lo, hi) = bounds(toks)
      val sk = TokenSketch.build(toks, lo, hi)
      assert(sk.nonEmpty && sk(0) == 1, "vocab-sized range must take bitmap mode")
      val present = toks.toSet
      present.foreach(t => assert(TokenSketch.mightContain(sk, lo, t)))
      // exactness: everything in-range but absent is denied
      var t = lo
      var checked = 0
      while (t <= hi && checked < 2000) {
        if (!present(t)) assert(!TokenSketch.mightContain(sk, lo, t), s"fp at $t")
        t += 1; checked += 1
      }
    }
  }

  test("bloom mode: never a false negative; absent values mostly pruned") {
    forAll(genWideToks, trials = 60) { toks0 =>
      val toks = toks0 ++ Array(Int.MinValue, Int.MaxValue) // force huge range
      val (lo, hi) = bounds(toks)
      val sk = TokenSketch.build(toks, lo, hi)
      assert(sk.nonEmpty && sk(0) == 3, "huge range must take bloom mode")
      toks.foreach(t => assert(TokenSketch.mightContain(sk, lo, t),
        s"FALSE NEGATIVE at $t"))
      val present = toks.toSet
      val probes = (0 until 2000).map(i => 1000000 + i * 7919)
        .filterNot(present)
      val fps = probes.count(t => TokenSketch.mightContain(sk, lo, t))
      // small sets in a >=2KB bloom: fp rate should be far below half
      if (toks.length <= 500)
        assert(fps < probes.size / 2, s"$fps/${probes.size} false positives")
    }
  }

  test("bloom scales with cardinality: 100k-distinct chunk still prunes >=90%") {
    // r3's fixed 2 KB filter was ~100% FP here — zero pruning power
    val toks = Array.tabulate(100000)(i => i * 20011 + 7) // wide, all distinct
    val (lo, hi) = (toks.min, toks.max)
    val sk = TokenSketch.build(toks, lo, hi)
    assert(sk(0) == 3)
    assert(sk.length <= 1 + 5 + TokenSketch.BloomMaxBits / 8)
    toks.foreach(t => assert(TokenSketch.mightContain(sk, lo, t)))
    val present = toks.toSet
    val probes = (0 until 5000).map(i => i * 40009 + 13).filterNot(present)
    val fps = probes.count(t => TokenSketch.mightContain(sk, lo, t))
    assert(fps.toDouble / probes.size <= 0.10,
      s"$fps/${probes.size} false positives — bloom under-sized")
  }

  test("legacy mode-2 sketches (pre-r4 manifests) still read correctly") {
    // replica of the r3 writer: fixed 2 KB, k=4, shift-walk probes
    def legacyBuild(toks: Array[Int]): Array[Byte] = {
      val out = new Array[Byte](1 + TokenSketch.BloomBits / 8)
      out(0) = 2
      toks.foreach { t =>
        var h = legacyMix(t.toLong)
        (0 until TokenSketch.BloomK).foreach { _ =>
          val bit = (h & (TokenSketch.BloomBits - 1)).toInt
          out(1 + (bit >>> 3)) = (out(1 + (bit >>> 3)) | (1 << (bit & 7))).toByte
          h = h >>> 14
        }
      }
      out
    }
    val toks = Array.tabulate(400)(i => i * 104729)
    val sk = legacyBuild(toks)
    toks.foreach(t => assert(TokenSketch.mightContain(sk, toks.min, t),
      s"false negative reading legacy sketch at $t"))
    val present = toks.toSet
    val probes = (0 until 2000).map(i => 500000 + i * 7919).filterNot(present)
    val fps = probes.count(t => TokenSketch.mightContain(sk, toks.min, t))
    assert(fps < probes.size / 2, "legacy decode lost its pruning power")
  }

  // the same splitmix the engine uses (stable format constant)
  private def legacyMix(z0: Long): Long = {
    var z = z0 ^ 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  test("empty and unknown sketches never prune") {
    assert(TokenSketch.mightContain(Array.emptyByteArray, 0, 42))
    assert(TokenSketch.mightContain(null, 0, 42))
    assert(TokenSketch.mightContain(Array[Byte](99, 1, 2, 3), 0, 42)) // future mode
    // empty chunk: sketch empty AND inverted min/max sentinels exclude all
    assert(TokenSketch.build(Array.emptyIntArray, Int.MaxValue, Int.MinValue).isEmpty)
  }

  test("truncated/garbled sketches fail OPEN (no crash, no false negative)") {
    val toks = Array.tabulate(500)(i => i * 13 % 4000)
    val bm = TokenSketch.build(toks, toks.min, toks.max)
    assert(bm(0) == 1)
    val wide = TokenSketch.build(toks :+ Int.MaxValue, toks.min, Int.MaxValue)
    assert(wide(0) == 3)
    for (sk <- Seq(bm, wide); keep <- Seq(1, 2, 5, sk.length / 2)) {
      val cut = java.util.Arrays.copyOf(sk, keep)
      toks.foreach { t =>
        // must not throw, and a PRESENT token must never be denied
        assert(TokenSketch.mightContain(cut, toks.min, t),
          s"false negative on truncated sketch (mode ${sk(0)}, keep=$keep, t=$t)")
      }
    }
    // garbled mode-1 range larger than the body: fail open too
    val garbled = bm.clone()
    garbled(1) = 0xFF.toByte; garbled(2) = 0xFF.toByte // blow up the varint
    toks.foreach(t => assert(TokenSketch.mightContain(garbled, toks.min, t)))
  }

  // mode-1 sketches of the shapes pack must round-trip: one token, the full
  // 2^16 range, dense and sparse sets
  private val genBitmapToks: Gen[Array[Int]] = Gen.oneOf(
    Gen.choose(-100000, 100000).map(t => Array(t)),
    Gen.choose(0, 1000).map(lo => Array(lo, lo + TokenSketch.BitmapMaxRange - 1)),
    Gen.zip(Gen.choose(0, 1000), Gen.choose(1, 20000)).map { case (lo, n) =>
      Array.tabulate(n)(i => lo + i) },
    Gen.zip(Gen.choose(2, 200), Gen.choose(0, 60000)).flatMap { case (n, span) =>
      Gen.listOfN(n, Gen.choose(0, span)).map(_.toArray) },
    genVocabToks)

  test("pack: mode 1 -> mode 4 -> mode 1 gives identical bytes") {
    var packed = 0
    forAll(genBitmapToks, trials = 120) { toks =>
      val (lo, hi) = bounds(toks)
      val sk = TokenSketch.build(toks, lo, hi)
      assert(sk(0) == 1)
      val disk = TokenSketch.pack(sk)
      assert(disk(0) == 1 || disk(0) == 4)
      if (disk(0) == 4) {
        packed += 1
        assert(disk.length < sk.length, "mode 4 is written only when smaller")
      } else assert(disk eq sk)
      assert(java.util.Arrays.equals(TokenSketch.unpack(disk), sk))
    }
    assert(packed > 0, "no generated sketch packed")
    // a dense zipf-like chunk: the case the on-disk form exists for
    val rnd = new scala.util.Random(7)
    val toks = Array.fill(16384)((50257 * math.pow(rnd.nextDouble(), 3)).toInt)
    val sk = TokenSketch.build(toks, toks.min, toks.max)
    val disk = TokenSketch.pack(sk)
    assert(disk(0) == 4 && disk.length < sk.length * 3 / 4,
      s"${sk.length} -> ${disk.length}")
    assert(java.util.Arrays.equals(TokenSketch.unpack(disk), sk))
  }

  test("pack/unpack pass mode 2, mode 3 and empty sketches through") {
    val wideToks = Array.tabulate(3000)(i => i * 20011 + 7) :+ Int.MaxValue
    val m3 = TokenSketch.build(wideToks, wideToks.min, Int.MaxValue)
    assert(m3(0) == 3)
    val m2 = Array[Byte](2) ++ Array.fill[Byte](TokenSketch.BloomBits / 8)(0x5a)
    for (sk <- Seq(m3, m2, Array.emptyByteArray)) {
      assert(TokenSketch.pack(sk) eq sk)
      assert(TokenSketch.unpack(sk) eq sk)
    }
    // a mode-1 sketch whose bitmap does not match its range stays mode 1
    val odd = TokenSketch.build(Array(1, 5, 9), 1, 9) :+ 0.toByte
    assert(TokenSketch.pack(odd) eq odd)
  }

  test("a truncated or bit-flipped mode-4 sketch unpacks to empty, never " +
      "throws, and raw mode-4 bytes never prune") {
    val toks = Array.tabulate(600)(i => (i * i * 7) % 30000)
    val sk = TokenSketch.build(toks, toks.min, toks.max)
    val disk = TokenSketch.pack(sk)
    assert(disk(0) == 4)
    // the raw on-disk bytes read through the `case _` arm, as an older
    // engine that knows no mode 4 reads them: every probe admits the chunk
    (toks.min to toks.max by 97).foreach(t =>
      assert(TokenSketch.mightContain(disk, toks.min, t)))
    for (keep <- 0 until disk.length)
      assert(TokenSketch.unpack(java.util.Arrays.copyOf(disk, keep)).isEmpty,
        s"truncated to $keep")
    // every bit after the mode byte: the CRC rejects each flip that changes
    // the bitmap; only a flip of a bit the decoder never reads (the code
    // stream's padding, the spare nibble of an odd-length header) decodes,
    // to the same bitmap
    var same = 0
    for (bit <- 8 until disk.length * 8) {
      val flip = disk.clone()
      flip(bit >>> 3) = (flip(bit >>> 3) ^ (1 << (bit & 7))).toByte
      val got = TokenSketch.unpack(flip)
      if (got.nonEmpty) {
        assert(java.util.Arrays.equals(got, sk), s"bit $bit flipped to a wrong bitmap")
        same += 1
      }
    }
    assert(same < 16, s"$same flipped bits decoded")
    for (bit <- 0 until 8) { // a flipped mode byte is no mode the reader prunes with
      val flip = disk.clone()
      flip(0) = (flip(0) ^ (1 << bit)).toByte
      toks.foreach(t => assert(TokenSketch.mightContain(
        TokenSketch.unpack(flip), toks.min, t)))
    }
  }

  test("sketch roundtrips through the manifest JSON and the chunk frame") {
    val spark = graft.SparkTestSession.spark
    import org.apache.spark.sql.functions.{array_contains, col}
    val rows = (0 until 50).map(i =>
      SeqRow(f"doc-$i%012d", Array(i * 3, i * 3 + 1, 40000 + i), 3, "s"))
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-sketch").toString
    Lineage.encodeToDir(spark.createDataset(rows), dir,
      EncoderConfig(chunkTokens = 64, numPartitions = 2))
    val m = Lineage.readManifest(spark, dir).collect()
    assert(m.forall(_.tok_set.nonEmpty))
    // a token in exactly one row: the sketch-pruned scan plans its
    // chunk(s) only (one chunk per task), decode returns exactly that row
    val probe = 40000 + 17
    val probed = spark.read.format("graft").load(dir)
      .filter(array_contains(col("tokens"), probe))
    val got = probed.select("doc_id").collect().map(_.getString(0))
    assert(got.toSeq == Seq(f"doc-${17}%012d"))
    spark.conf.set("graft.read.maxPartitionBytes", "1")
    val pruned = try probed.rdd.getNumPartitions
      finally spark.conf.unset("graft.read.maxPartitionBytes")
    assert(pruned >= 1 && pruned < m.length)
  }
}
