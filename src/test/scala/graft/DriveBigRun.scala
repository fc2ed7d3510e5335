package graft

import org.apache.spark.sql.SparkSession
import graft.engine._
import graft.io.Corpus

/** Capstone scale drive: stream a multi-GB corpus through generate -> encode
  * -> lineage dir -> decode with NO dataset caching — the shape of a 100 TB
  * job, where nothing fits in memory and every stage must be pipelined.
  * Run: sbt "Test/runMain graft.DriveBigRun <nRows> <cpus>" */
object DriveBigRun {
  def main(args: Array[String]): Unit = {
    val nRows = args.headOption.map(_.toLong).getOrElse(5000000L)
    val cpus = args.lift(1).getOrElse("32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.driver.host", "localhost")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val parts = 512
    val dir = java.nio.file.Files.createTempDirectory("graft-big").toString
    // explicit deterministic partitioning: encodeToDir requires it for
    // sound resume (partition membership must be a pure function of data)
    val cfg = EncoderConfig(chunkTokens = 1 << 20, numPartitions = parts)
    val corpus = Corpus.table(spark, nRows, partitions = parts) // NOT cached

    val t0 = System.nanoTime()
    Lineage.encodeToDir(corpus, dir, cfg)
    val tEnc = (System.nanoTime() - t0) / 1e9
    val manifest = Lineage.readManifest(spark, dir)
    val (nChunks, nTokens, encBytes, rawBytes) = manifest
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.sum("n_tokens"),
        org.apache.spark.sql.functions.sum("enc_bytes"),
        org.apache.spark.sql.functions.sum("raw_bytes"))
      .as[(Long, Long, Long, Long)].first()
    println(f"BIG1 rows=$nRows chunks=$nChunks tokens=$nTokens raw=${rawBytes / 1e9}%.2fGB enc=${encBytes / 1e9}%.2fGB ratio=${encBytes.toDouble / rawBytes}%.4f encode=${tEnc}%.1fs (${nTokens / tEnc / 1e6}%.0fM tok/s incl. generation+disk)")

    import org.apache.spark.sql.functions.{col, size, sum}
    def g = spark.read.format("graft").load(dir)
    val t1 = System.nanoTime()
    val decTokens = g.as[SeqRow].map(_.n_tok.toLong).reduce(_ + _)
    val tDec = (System.nanoTime() - t1) / 1e9
    println(f"BIG2 decode=${tDec}%.1fs (${decTokens / tDec / 1e6}%.0fM tok/s from disk) tokensMatch=${decTokens == nTokens}")

    // spot roundtrip: re-generate a slice deterministically and compare
    val lo = "doc-000002000000"; val hi = "doc-000002000499"
    val slice = g.filter(col("doc_id") >= lo && col("doc_id") <= hi)
      .as[SeqRow].collect().map(r => r.doc_id -> r).toMap
    val expect = (2000000L until 2000500L).map(i => Corpus.row(42L, i))
    val ok = expect.forall(e => slice.get(e.doc_id)
      .exists(d => d.tokens.sameElements(e.tokens) && d.source == e.source))
    println(s"BIG3 zonemap-slice rows=${slice.size}/500 bitIdentical=$ok")

    // index layers at scale: a rare-token containment probe — zone +
    // TokenSketch prune at planning, counted as planned chunks (one chunk
    // per task)
    val probe = Corpus.V - 1 // boundary-archetype token: present in ~5% of rows
    def plannedFor(tok: Int): Int = {
      spark.conf.set("graft.read.maxPartitionBytes", "1")
      try spark.read.format("graft").option("containsToken", tok.toString)
        .load(dir).rdd.getNumPartitions
      finally spark.conf.unset("graft.read.maxPartitionBytes")
    }
    val t3 = System.nanoTime()
    val mTok = plannedFor(probe)
    val tPrune = (System.nanoTime() - t3) / 1e9
    val oov = Corpus.V + 123
    val mOov = plannedFor(oov)
    println(f"BIG4 sketch probe tok=$probe -> $mTok/$nChunks chunks (planning only, $tPrune%.1fs); oov probe -> $mOov chunks")

    // round-5: the DSv2 source at the same scale point — planning cost over
    // thousands of chunks broken out from read cost, plus each read shape
    val t4 = System.nanoTime()
    val planned = g.rdd.getNumPartitions // forces the manifest plan+collect
    val tPlan = (System.nanoTime() - t4) / 1e9
    val t5 = System.nanoTime()
    val cnt = g.count() // manifest-only aggregate pushdown: zero chunk reads
    val tCnt = (System.nanoTime() - t5) / 1e9
    println(f"BIG5 dsv2 planning $planned%d packed partitions in $tPlan%.2fs; pushed count(*)=$cnt%d in $tCnt%.2fs")

    val t6 = System.nanoTime()
    val gTokens = g.select(size(col("tokens")).as("n"))
      .agg(sum(col("n").cast("long"))).as[Long].first() // full payload decode
    val tFull = (System.nanoTime() - t6) / 1e9
    val t7 = System.nanoTime()
    val metaTok = g.groupBy("source").agg(sum(col("n_tok").cast("long")).as("t"))
      .agg(sum(col("t"))).as[Long].first() // column-pruned: meta only
    val tMeta = (System.nanoTime() - t7) / 1e9
    val t8 = System.nanoTime()
    val pruned = g.filter(col("doc_id") === lo)
    val prunedParts = pruned.rdd.getNumPartitions
    val prunedRows = pruned.count()
    val tPruned = (System.nanoTime() - t8) / 1e9
    println(f"BIG6 dsv2 full-decode ${tFull}%.1fs (${gTokens / tFull / 1e6}%.0fM tok/s, match=${gTokens == nTokens}); column-pruned rollup ${tMeta}%.1fs (match=${metaTok == nTokens}); doc_id probe -> $prunedParts packed task(s) of $nChunks chunks, $prunedRows row(s), ${tPruned}%.2fs")

    // cleanup the ~5GB scratch
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    spark.stop()
  }
}
