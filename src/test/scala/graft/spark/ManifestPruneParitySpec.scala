package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.sources._
import graft.engine.{EncoderConfig, Lineage, SeqRow}

/** The driver-side planning path (ManifestCache, in-process prune) must
  * be chunk-for-chunk identical to the distributed Dataset pruning — they
  * are two executors of ONE zone predicate (`ZonePrune.mayMatch`), and
  * this spec is the thing that keeps them from diverging. Also pins the cache's coherence story: an
  * append is visible to the very next query (listing-marker validation),
  * and disabling the local path (graft.plan.localManifestBytes=0) routes
  * planning back through the distributed job with the same answer. */
class ManifestPruneParitySpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  // 2000 rows, many small chunks, two sources, token values that give the
  // sketch/zone filters real work (some probes hit, some miss)
  private lazy val dir = {
    val rs = (0 until 2000).map { i =>
      SeqRow(f"doc-$i%08d", Array.tabulate(10)(t => (i * 31 + t * 7) % 9000),
        10, if (i % 4 == 0) "books" else "web")
    }
    val d = java.nio.file.Files.createTempDirectory("graft-parity").toString
    import spark.implicits._
    Lineage.encodeToDir(spark.createDataset(rs), d,
      EncoderConfig(chunkTokens = 1 << 10, numPartitions = 4))
    d
  }

  private def chunkIds(rows: Array[(String, Lineage.ManifestRow)]): Set[Long] =
    rows.map(_._2.chunk_id).toSet

  private val filterShapes: Seq[(String, Array[Filter], Array[Int])] = Seq(
    ("none", Array.empty[Filter], Array.empty[Int]),
    ("eq", Array[Filter](EqualTo("doc_id", "doc-00000777")), Array.empty[Int]),
    ("gt", Array[Filter](GreaterThan("doc_id", "doc-00001800")), Array.empty[Int]),
    ("gte", Array[Filter](GreaterThanOrEqual("doc_id", "doc-00001800")), Array.empty[Int]),
    ("lt", Array[Filter](LessThan("doc_id", "doc-00000200")), Array.empty[Int]),
    ("lte", Array[Filter](LessThanOrEqual("doc_id", "doc-00000200")), Array.empty[Int]),
    ("in", Array[Filter](In("doc_id",
      Array("doc-00000003", "doc-00001999", "nope"))), Array.empty[Int]),
    ("band", Array[Filter](GreaterThan("doc_id", "doc-00000500"),
      LessThan("doc_id", "doc-00000900")), Array.empty[Int]),
    ("probe-hit", Array.empty[Filter], Array(31 % 9000)),
    ("probe-miss", Array.empty[Filter], Array(8999)),
    ("mixed", Array[Filter](GreaterThanOrEqual("doc_id", "doc-00000100")),
      Array(62 % 9000)))

  test("driver-side pruning == distributed pruning for every filter shape") {
    val dirs = Seq(dir)
    filterShapes.foreach { case (name, pushed, probes) =>
      ManifestCache.clear()
      val local = GraftPlanning.prunedManifest(spark, dirs, pushed, probes)
      // force the distributed path: local gate off
      spark.conf.set("graft.plan.localManifestBytes", "0")
      val dist =
        try GraftPlanning.prunedManifest(spark, dirs, pushed, probes)
        finally spark.conf.unset("graft.plan.localManifestBytes")
      assert(chunkIds(local) == chunkIds(dist),
        s"shape '$name': driver ${chunkIds(local).size} chunks vs " +
          s"distributed ${chunkIds(dist).size}")
      // the shapes with real selectivity must actually prune
      if (name != "none" && name != "probe-hit" && name != "mixed")
        assert(local.length < 2000, s"shape '$name' admitted everything")
    }
  }

  test("cache is marker-coherent: an append is visible to the next plan") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-parity-app").toString
    def rows(tag: String) = spark.createDataset((0 until 500).map(i =>
      SeqRow(f"$tag-$i%08d", Array(1, 2, 3), 3, "s"))).toDF()
    rows("a").repartition(2).write.format("graft").mode("append").save(d)
    val before = GraftPlanning
      .prunedManifest(spark, Seq(d), Array.empty, Array.empty).length
    assert(before > 0)
    // warm the cache, then append through the DSv2 sink (fresh partition ids)
    rows("b").repartition(2).write.format("graft").mode("append").save(d)
    val after = GraftPlanning
      .prunedManifest(spark, Seq(d), Array.empty, Array.empty).length
    assert(after > before, s"append invisible: $before -> $after")
    // and the full read agrees with the plan (no stale rows served)
    assert(spark.read.format("graft").load(d).count() == 1000L)
  }

  test("agg scans answer identically through the cached and distributed manifest") {
    ManifestCache.clear()
    def stats(): Seq[Any] = {
      val df = spark.read.format("graft").load(dir)
      df.createOrReplaceTempView("parity_t")
      spark.sql("SELECT count(*), min(doc_id), max(doc_id), sum(n_tok) FROM parity_t")
        .collect()(0).toSeq ++
        spark.sql("SELECT source, count(*), sum(n_tok) FROM parity_t GROUP BY source ORDER BY source")
          .collect().map(_.toSeq)
    }
    val cached = stats()
    spark.conf.set("graft.plan.localManifestBytes", "0")
    val dist = try stats() finally spark.conf.unset("graft.plan.localManifestBytes")
    assert(cached == dist)
    assert(cached.head == 2000L)
  }
}
