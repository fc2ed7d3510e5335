package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.io.Corpus
import java.nio.file.{Files, Paths}

class LineageSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def tmpDir(): String =
    Files.createTempDirectory("graft-lineage").toString

  /** A lineage dir read back through the DSv2 source, as rows. */
  private def read(dir: String) = {
    import spark.implicits._
    spark.read.format("graft").load(dir).as[SeqRow]
  }

  /** Chunks the DSv2 scan plans for `df` (one chunk per task). */
  private def plannedChunks(df: org.apache.spark.sql.DataFrame): Int = {
    spark.conf.set("graft.read.maxPartitionBytes", "1")
    try df.rdd.getNumPartitions
    finally spark.conf.unset("graft.read.maxPartitionBytes")
  }

  test("encodeToDir writes data + manifest; the graft source roundtrips") {
    val dir = tmpDir()
    val ds = Corpus.table(spark, 400, partitions = 4)
    val encoded = Lineage.encodeToDir(ds, dir,
      EncoderConfig(chunkTokens = 8192, numPartitions = 4))
    assert(encoded == 4L)
    val manifest = Lineage.readManifest(spark, dir).collect()
    assert(manifest.nonEmpty)
    assert(manifest.map(_.part_id).toSet == Set(0, 1, 2, 3))
    assert(manifest.forall(m => m.length > 0 && m.enc_bytes > 0))
    val decoded = read(dir).collect()
      .map(r => r.doc_id -> r).toMap
    val original = ds.collect().map(r => r.doc_id -> r).toMap
    assert(decoded.keySet == original.keySet)
    original.foreach { case (id, o) =>
      assert(decoded(id).tokens.sameElements(o.tokens), s"row $id")
    }
  }

  test("resume skips completed partitions (A22 unconsumed-input analog)") {
    val dir = tmpDir()
    val ds = Corpus.table(spark, 300, partitions = 3)
    val cfg = EncoderConfig(chunkTokens = 8192, numPartitions = 3)
    assert(Lineage.encodeToDir(ds, dir, cfg) == 3L)
    // record manifest mtimes, re-run, nothing should be rewritten
    val lineage = Paths.get(dir, "_lineage")
    val before = Files.list(lineage).toArray.map(_.toString).sorted
    val mtimes = before.map(p => Files.getLastModifiedTime(Paths.get(p)))
    assert(Lineage.encodeToDir(ds, dir, cfg) == 0L) // all skipped
    val after = Files.list(lineage).toArray.map(_.toString).sorted
    assert(before.sameElements(after))
    before.zip(mtimes).foreach { case (p, t) =>
      assert(Files.getLastModifiedTime(Paths.get(p)) == t, s"$p rewritten")
    }
  }

  test("partial run resumes to completion") {
    val dir = tmpDir()
    val ds = Corpus.table(spark, 300, partitions = 3)
    val cfg = EncoderConfig(chunkTokens = 8192, numPartitions = 3)
    // simulate a prior partial run: encode all, then erase one partition's
    // state => "failed mid-run"; a re-run must complete only the missing one
    assert(Lineage.encodeToDir(ds, dir, cfg) == 3L)
    Files.delete(Paths.get(dir, "_lineage", "part-00001.json"))
    Files.delete(Paths.get(dir, "data", "part-00001.graft"))
    assert(Lineage.encodeToDir(ds, dir, cfg) == 1L) // only the missing one
    val decoded = read(dir).collect()
    assert(decoded.length == 300)
  }

  test("zone-map pruned decode reads only overlapping chunks") {
    import org.apache.spark.sql.functions.col
    val dir = tmpDir()
    val ds = Corpus.table(spark, 500, partitions = 4)
    Lineage.encodeToDir(ds, dir, EncoderConfig(chunkTokens = 4096,
      numPartitions = 4))
    val lo = "doc-000000000100"; val hi = "doc-000000000140"
    val range = col("doc_id") >= lo && col("doc_id") <= hi
    val got = read(dir).filter(range).collect()
    assert(got.length == 41, s"got ${got.length}")
    assert(got.forall(r => r.doc_id >= lo && r.doc_id <= hi))
    // pruning effectiveness: the planned chunks are exactly the ones whose
    // zone overlaps the range, a strict subset
    val all = Lineage.readManifest(spark, dir).count()
    val touched = Lineage.readManifest(spark, dir)
      .filter(col("max_doc_id") >= lo && col("min_doc_id") <= hi).count()
    assert(touched < all, s"no pruning: $touched of $all")
    assert(plannedChunks(read(dir).filter(range).toDF()) == touched)
  }

  test("token-value zone map prunes content-predicate decode") {
    import org.apache.spark.sql.functions.{array_contains, col}
    val dir = tmpDir()
    val ds = Corpus.table(spark, 500, partitions = 4)
    Lineage.encodeToDir(ds, dir, EncoderConfig(chunkTokens = 4096,
      numPartitions = 4))
    // vocabulary-edge token (the `boundary` archetype emits V-1): present in
    // few rows, so both the chunk pruning and the row filter must fire
    val tok = graft.io.Corpus.V - 1
    val got = read(dir).filter(array_contains(col("tokens"), tok)).collect()
    val expect = ds.collect().filter(_.tokens.contains(tok)).map(_.doc_id).toSet
    assert(got.map(_.doc_id).toSet == expect && expect.nonEmpty)
    // out-of-vocabulary probe decodes ZERO chunks (manifest-only answer)
    val oov = graft.io.Corpus.V + 7
    val oovRead = read(dir).filter(array_contains(col("tokens"), oov))
    assert(plannedChunks(oovRead.toDF()) == 0 && oovRead.count() == 0L)
    assert(Lineage.readManifest(spark, dir)
      .filter(col("min_tok") <= oov && col("max_tok") >= oov).count() == 0L)
  }

  test("containment sketch prunes in-vocab rare-token probes on a zipf " +
      "corpus where min/max alone decodes nearly everything") {
    import org.apache.spark.sql.functions.{array_contains, col}
    import spark.implicits._
    val dir = tmpDir()
    // pure zipf(s=1.1) rows over the vocab (same inverse-CDF as the corpus
    // generator): every chunk's [min_tok, max_tok] spans most of the vocab,
    // so the min/max zone map is useless for in-vocab probes — exactly the
    // regime the per-chunk containment sketch exists for
    val vPow = math.pow(graft.io.Corpus.V.toDouble, -0.1)
    def zipfTok(u: Double): Int = {
      val v = (math.pow(1.0 + u * (vPow - 1.0), -10.0) - 1.0).toInt
      math.max(0, math.min(graft.io.Corpus.V - 1, v))
    }
    def mix(z0: Long): Long = {
      var z = z0 ^ 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val rows = (0 until 400).map { i =>
      val toks = Array.tabulate(512) { j =>
        zipfTok((mix(i.toLong * 4099L + j) >>> 11).toDouble * 1.1102230246251565e-16)
      }
      SeqRow(f"doc-$i%012d", toks, toks.length, "zipf")
    }
    val ds = spark.createDataset(rows)
    Lineage.encodeToDir(ds, dir, EncoderConfig(chunkTokens = 4096,
      numPartitions = 4))
    // probe: a token that occurs exactly once in the corpus (rare but
    // in-vocab and comfortably inside every chunk's min/max range)
    val counts = rows.flatMap(_.tokens).groupBy(identity)
      .view.mapValues(_.length)
    val tok = counts.filter { case (t, n) => n == 1 && t < 20000 }.keys.min
    val all = Lineage.readManifest(spark, dir).count()
    val minmaxPass = Lineage.readManifest(spark, dir)
      .filter(col("min_tok") <= tok && col("max_tok") >= tok).count()
    val probed = read(dir).filter(array_contains(col("tokens"), tok))
    val sketchPass = plannedChunks(probed.toDF()).toLong
    // min/max is blind here; the sketch (exact bitmap at vocab-sized
    // ranges) prunes to the single chunk that actually holds the token
    assert(minmaxPass >= all / 2, s"min/max passed $minmaxPass of $all")
    assert(sketchPass == 1L, s"sketch passed $sketchPass chunks (want 1)")
    val got = probed.collect()
    val expect = rows.filter(_.tokens.contains(tok)).map(_.doc_id).toSet
    assert(got.map(_.doc_id).toSet == expect && expect.size == 1)
    info(s"probe tok=$tok: $all chunks, min/max passes $minmaxPass, " +
      s"sketch passes $sketchPass")
  }

  test("doc_id range decode agrees with UTF-8 binary order for " +
      "supplementary-plane ids (pruning and row filter use ONE order)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = tmpDir()
    // UTF-16 code-unit order: emoji(U+1F600, surrogates D83D..) < U+E000;
    // UTF-8 binary order (what Spark's column predicates use): U+E000 < emoji.
    // BOTH ids share ONE chunk, so the chunk's max_doc_id depends on which
    // order the bounds loop uses: UTF-16 order would store max = the U+E000
    // id, the Spark-side prune (binary order) then sees the emoji probe as
    // out of range and SILENTLY DROPS its row — the regression this test
    // pins (it fails if ChunkBuilder's bounds revert to Java String order).
    val emojiId = "😀-doc" // U+1F600
    val bmpId = "-doc"
    val rows = Seq(
      SeqRow(bmpId, Array(1), 1, "s"),
      SeqRow(emojiId, Array(2), 1, "s"))
    Lineage.encodeToDir(spark.createDataset(rows), dir,
      EncoderConfig(chunkTokens = 64, numPartitions = 1))
    assert(Lineage.readManifest(spark, dir).count() == 1L, "need ONE chunk")
    def idRange(lo: String, hi: String): Set[String] =
      read(dir).filter(col("doc_id") >= lo && col("doc_id") <= hi)
        .collect().map(_.doc_id).toSet
    val gotEmoji = idRange(emojiId, emojiId)
    assert(gotEmoji == Set(emojiId), s"emoji row lost to pruning: $gotEmoji")
    val gotBmp = idRange(bmpId, bmpId)
    assert(gotBmp == Set(bmpId), s"got $gotBmp")
  }

  test("encodeToDir is byte-deterministic across runs (resume soundness)") {
    val ds = Corpus.table(spark, 500, partitions = 4)
    val cfg = EncoderConfig(chunkTokens = 8192, numPartitions = 4)
    val d1 = tmpDir(); val d2 = tmpDir()
    Lineage.encodeToDir(ds, d1, cfg)
    Lineage.encodeToDir(ds, d2, cfg)
    (0 until 4).foreach { p =>
      val a = Files.readAllBytes(Paths.get(d1, "data", f"part-$p%05d.graft"))
      val b = Files.readAllBytes(Paths.get(d2, "data", f"part-$p%05d.graft"))
      assert(java.util.Arrays.equals(a, b), s"partition $p differs across runs")
    }
  }

  test("resume after manifest-only loss (stale data file) is correct") {
    val dir = tmpDir()
    val ds = Corpus.table(spark, 300, partitions = 3)
    val cfg = EncoderConfig(chunkTokens = 8192, numPartitions = 3)
    assert(Lineage.encodeToDir(ds, dir, cfg) == 3L)
    // died between data-rename and manifest-commit: data exists, manifest not
    Files.delete(Paths.get(dir, "_lineage", "part-00001.json"))
    assert(Lineage.encodeToDir(ds, dir, cfg) == 1L)
    val decoded = read(dir).collect()
    assert(decoded.length == 300)
    assert(decoded.map(_.doc_id).distinct.length == 300)
  }
}

/** North-rule size gate: our total compressed bytes <= reference PPMd output
  * on the same corpus (golden/ppmd_sizes.json, generated by running the
  * reference's own C codec — pyppmd compiled from /root/reference sources —
  * over the identical serialized token streams; FIXTURES.md §A). */
class PpmdSizeGateSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("engine beats PPMd var.H and var.I on the 5k corpus") {
    import org.apache.spark.sql.functions.sum
    val ppmdH = 4721056L // golden/ppmd_sizes.json _total_5k (order 6, 16 MiB)
    val ppmdI = 4603642L // (order 8, 8 MiB)
    val ds = Corpus.table(spark, 5000, partitions = 8)
    val chunks = Encoder.encodeTable(ds,
      EncoderConfig(chunkTokens = 1 << 16, numPartitions = 8))
    val enc = chunks.agg(sum("enc_bytes")).collect()(0).getLong(0)
    info(s"engine=$enc ppmd_h=$ppmdH ppmd_i=$ppmdI")
    assert(enc <= ppmdI, s"engine $enc > ppmd_i $ppmdI")
    assert(enc <= ppmdH, s"engine $enc > ppmd_h $ppmdH")
  }
}
