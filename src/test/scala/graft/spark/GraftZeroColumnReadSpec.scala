package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import graft.engine.{EncoderConfig, Lineage, SeqRow}

/** The zero-column projection (`count(*)` that cannot ride the
  * manifest-only aggregate) is served by the columnar reader as batches
  * that carry a row count and no vectors. Each count is matched to the
  * manifest and to the corpus. */
class GraftZeroColumnReadSpec extends AnyFunSuite
    with AdaptiveSparkPlanHelper {
  private lazy val spark = graft.SparkTestSession.spark

  private lazy val (dir, rows) = {
    val rs = (0 until 1200).map { i =>
      SeqRow(f"doc-$i%08d", Array.tabulate(10)(t => (i * 7 + t) % 30000), 10,
        if (i % 4 == 0) "books" else "web")
    }
    val d = java.nio.file.Files.createTempDirectory("graft-zero-col").toString
    import spark.implicits._
    Lineage.encodeToDir(spark.createDataset(rs), d,
      EncoderConfig(chunkTokens = 1 << 11, numPartitions = 3))
    (d, rs)
  }

  private def load(): DataFrame = spark.read.format("graft").load(dir)

  /** The graft scans of a plan: each must be columnar with no output. */
  private def assertZeroColumnScan(df: DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan
    assert(!plan.toString.contains("manifest-only"),
      s"took the aggregate pushdown:\n$plan")
    val scans = collect(plan) { case b: BatchScanExec => b }
    assert(scans.nonEmpty, s"no BatchScanExec:\n$plan")
    scans.foreach { b =>
      assert(b.output.isEmpty, s"scan reads columns ${b.output}")
      assert(b.supportsColumnar, "scan is not columnar")
    }
  }

  test("a probe-filtered count() reads zero columns and matches the corpus") {
    val probe = rows(300).tokens(3)
    val q = spark.read.format("graft").option("containsToken", probe.toString)
      .load(dir)
    val counted = q.groupBy().count()
    assertZeroColumnScan(counted)
    val expect = rows.count(_.tokens.contains(probe)).toLong
    assert(expect > 0 && expect < rows.size)
    assert(counted.collect()(0).getLong(0) == expect)
    assert(q.count() == expect)
  }

  test("a sampled count() reads zero columns and matches the manifest") {
    val sampled = load().sample(0.2, 11L)
    val counted = sampled.groupBy().count()
    assertZeroColumnScan(counted)
    // the selection is a pure function of (chunk_id, row, seed): the
    // expected count comes from the manifest alone
    val s = GraftSample(0.0, 0.2, 11L)
    val expect = Lineage.readManifest(spark, dir).collect()
      .map(m => (0 until m.n_rows).count(r => s.selected(m.chunk_id, r)))
      .sum.toLong
    assert(expect > 0 && expect < rows.size)
    assert(counted.collect()(0).getLong(0) == expect)
    // and the same rows as a doc_id read of the same sample
    assert(sampled.select("doc_id").collect().length.toLong == expect)
  }

  test("select().queryExecution.toRdd.count() decodes every chunk's rows") {
    val empty = load().select()
    assertZeroColumnScan(empty)
    val manifestRows =
      Lineage.readManifest(spark, dir).collect().map(_.n_rows.toLong).sum
    assert(manifestRows == rows.size.toLong)
    assert(empty.queryExecution.toRdd.count() == manifestRows)
  }

  test("the reader factory is columnar only") {
    val factory = new GraftReaderFactory(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration),
      org.apache.spark.sql.types.StructType(Nil))
    val part = GraftInputPartition(dir, Array.empty, None)
    assert(factory.supportColumnarReads(part))
    intercept[UnsupportedOperationException](factory.createReader(part))
  }
}
