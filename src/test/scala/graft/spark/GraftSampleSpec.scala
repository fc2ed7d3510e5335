package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.engine.{EncoderConfig, Lineage, SeqRow}

/** Pushed TABLESAMPLE: Bernoulli selection as a pure function of
  * (chunk_id, row, seed) — deterministic at any parallelism and across
  * both read paths, whole-chunk skips when no row is selected, and the
  * guard that matters: a pushed sample BLOCKS manifest-only aggregate
  * pushdown (which would otherwise return the unsampled count). */
class GraftSampleSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  private def mkTable(n: Int): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-sample").toString
    val rows = (0 until n).map(i =>
      SeqRow(f"doc-$i%05d", Array.tabulate(7)(t => (i * 5 + t) % 800), 7,
        if (i % 3 == 0) "books" else "web"))
    Lineage.encodeToDir(spark.createDataset(rows), dir,
      EncoderConfig(chunkTokens = 1 << 9, numPartitions = 2))
    dir
  }

  test("sample pushes down (no Sample node), is seed-deterministic across " +
      "parallelism and read paths, and lands near the fraction") {
    import spark.implicits._
    val dir = mkTable(5000)
    def sampled = spark.read.format("graft").load(dir).sample(0.1, 42L)
    val plan = sampled.queryExecution.executedPlan.toString
    assert(plan.contains("sample=[0.0,0.1) seed=42"), plan)
    assert(!plan.contains("Sample"), s"Sample node must be pushed:\n$plan")

    val base = sampled.select(col("doc_id")).as[String].collect().sorted.toSeq
    assert(base.size > 380 && base.size < 620, s"${base.size}") // ~N(500, 21)
    // identical at one-chunk-per-task granularity...
    spark.conf.set("graft.read.maxPartitionBytes", "1")
    try {
      val again = sampled.select(col("doc_id")).as[String]
        .collect().sorted.toSeq
      assert(again == base, "graft.read.maxPartitionBytes=1 diverged")
    } finally spark.conf.unset("graft.read.maxPartitionBytes")
    // ...and when the payload is read too (full chunk, not meta only)
    val withTokens = sampled.select(col("doc_id"), col("tokens"))
      .collect().map(_.getString(0)).sorted.toSeq
    assert(withTokens == base, "payload read diverged")
    // subset of the table, and a different seed gives a different sample
    val all = spark.read.format("graft").load(dir)
      .select(col("doc_id")).as[String].collect().toSet
    assert(base.forall(all.contains))
    val other = spark.read.format("graft").load(dir).sample(0.1, 7L)
      .select(col("doc_id")).as[String].collect().sorted.toSeq
    assert(other != base)
  }

  test("a pushed sample blocks manifest-only aggregate pushdown (count " +
      "reflects the sample, not the manifest)") {
    val dir = mkTable(3000)
    spark.conf.set("spark.sql.catalog.gsamp", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsamp.root",
      java.nio.file.Files.createTempDirectory("graft-sample-cat").toString)
    spark.sql("CREATE NAMESPACE gsamp.q")
    spark.sql(s"CREATE TABLE gsamp.q.t USING graft LOCATION '$dir'")
    val q = spark.sql(
      "SELECT count(*) AS c FROM gsamp.q.t TABLESAMPLE (10 PERCENT) REPEATABLE (7)")
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("manifest-only"), plan)
    val c = q.collect()(0).getLong(0)
    assert(c > 0 && c < 3000, s"$c")
    // repeatable: the same statement returns the same count
    assert(spark.sql(
      "SELECT count(*) AS c FROM gsamp.q.t TABLESAMPLE (10 PERCENT) REPEATABLE (7)")
      .collect()(0).getLong(0) == c)
    // the unsampled pushed count is exact and manifest-only, untouched
    val full = spark.sql("SELECT count(*) AS c FROM gsamp.q.t")
    assert(full.queryExecution.executedPlan.toString.contains("manifest-only"))
    assert(full.collect()(0).getLong(0) == 3000)
  }

  test("sample composes with payload-free projection and containment " +
      "probes; withReplacement stays a Spark-side Sample") {
    import spark.implicits._
    val dir = mkTable(4000)
    val t = spark.read.format("graft").load(dir)
    // payload-free: sampled (source, n_tok) projection matches the doc_id
    // sample size (same seed => same physical selection)
    val nIds = t.sample(0.2, 11L).select(col("doc_id")).count()
    val meta = t.sample(0.2, 11L).select(col("source"), col("n_tok"))
    assert(!meta.queryExecution.executedPlan.toString.contains("doc_id,"),
      meta.queryExecution.executedPlan.toString)
    assert(meta.count() == nIds)
    // pushed sample + filter ABOVE it: the filter applies to exactly the
    // pushed physical-index sample
    val probed = t.sample(0.2, 11L).filter(array_contains(col("tokens"), 5))
    assert(probed.queryExecution.executedPlan.toString.contains("sample=["))
    val expect = t.sample(0.2, 11L)
      .collect().count(r => r.getSeq[Int](1).contains(5))
    assert(probed.count() == expect.toLong)
    // filter-then-sample: Spark does NOT push a sample below a residual
    // filter (different sampling universe) — its own Sample node stays,
    // which is the correct conservative behavior
    val fs = t.filter(array_contains(col("tokens"), 5)).sample(0.2, 11L)
    val fsPlan = fs.queryExecution.executedPlan.toString
    assert(fsPlan.contains("Sample") && !fsPlan.contains("sample=["), fsPlan)
    // withReplacement is not Bernoulli: not pushed, Spark keeps its node
    val wr = t.sample(withReplacement = true, 0.2, 11L)
    val wrPlan = wr.queryExecution.executedPlan.toString
    assert(wrPlan.contains("Sample") && !wrPlan.contains("sample=["), wrPlan)
    assert(wr.count() > 0)
  }

  test("sampled-scan statistics scale with the fraction: a sampled big " +
      "table broadcasts where the unsampled one shuffles") {
    val dir = mkTable(5000)
    val t = spark.read.format("graft").load(dir)
    val full = t.queryExecution.optimizedPlan.stats.sizeInBytes
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled")
    val old = keys.map(k => k -> spark.conf.getOption(k))
    // threshold between the 1% estimate and the full estimate
    keys.zip(Seq((full / 10).toString, "false"))
      .foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      def join(left: org.apache.spark.sql.DataFrame) =
        t.join(left.select(col("doc_id").as("rid")), col("doc_id") === col("rid"))
          .queryExecution.executedPlan.toString
      assert(!join(t).contains("BroadcastHashJoin"), join(t))
      val sampled = join(t.sample(0.01, 3L))
      assert(sampled.contains("BroadcastHashJoin"), sampled)
    } finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("anySelected agrees with per-row selection (the whole-chunk skip " +
      "can never drop a selected row)") {
    val s = GraftSample(0.0, 0.003, 99L)
    var skippable = 0
    for (cid <- 0L until 300L) {
      val any = s.anySelected(cid, 150)
      val truth = (0 until 150).exists(r => s.selected(cid, r))
      assert(any == truth, s"chunk $cid")
      if (!any) skippable += 1
    }
    // at f=0.003 and 150-row chunks, ~(1-f)^150 = 64% of chunks skip
    assert(skippable > 100, s"$skippable of 300")
  }
}
