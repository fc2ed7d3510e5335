package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.engine.{EncoderConfig, Lineage, SeqRow}

/** DSv2 metadata columns `_part_id` / `_chunk_id` / `_gen`: row provenance
  * stamped from the manifest row the reader already holds (zero extra I/O),
  * hidden from `SELECT *`, consistent with the manifest chunk-for-chunk,
  * and `_gen` tracks DELETE rewrites. */
class GraftMetadataColumnsSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  private def mkTable(n: Int, parts: Int): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-metacol").toString
    val rows = (0 until n).map(i =>
      SeqRow(f"doc-$i%05d", Array.tabulate(8)(t => (i * 3 + t) % 500), 8,
        if (i % 4 == 0) "books" else "web"))
    Lineage.encodeToDir(spark.createDataset(rows), dir,
      EncoderConfig(chunkTokens = 1 << 9, numPartitions = parts))
    dir
  }

  test("metadata columns are hidden from SELECT * but selectable, and " +
      "agree with the manifest chunk-for-chunk (both read paths)") {
    val dir = mkTable(600, 3)
    val df = spark.read.format("graft").load(dir)
    assert(df.columns.toSeq ==
      Seq("doc_id", "tokens", "n_tok", "source"), "SELECT * must stay clean")

    val manifest = Lineage.readManifest(spark, dir)
      .collect().map(m => (m.chunk_id, (m.part_id, m.n_rows, m.gen))).toMap
    // the payload-free read (meta section only) and the payload read
    for (payload <- Seq(false, true)) {
      val base = spark.read.format("graft").load(dir)
      val rows = if (payload) base.filter(size(col("tokens")) >= 0) else base
      val got = rows
        .groupBy(col("_chunk_id"), col("_part_id"), col("_gen"))
        .agg(count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getLong(0), (r.getInt(1), r.getLong(3).toInt, r.getInt(2))))
        .toMap
      assert(got == manifest, s"payload=$payload")
    }
  }

  test("_gen flips to 1 exactly for the partitions a DELETE rewrote; " +
      "survivors keep provenance through the rewrite") {
    val dir = mkTable(600, 3)
    def df = spark.read.format("graft").load(dir)
    // metadata columns resolve on the relation itself (a temp VIEW pins
    // its output columns and hides them — DSv2 semantics, same as
    // parquet's _metadata), so this spec drives the DataFrame path
    val victimPart = df.filter(col("doc_id") === "doc-00042")
      .select(col("_part_id")).collect()(0).getInt(0)
    val st = GraftDelete.run(spark, dir,
      Array(org.apache.spark.sql.sources.EqualTo("doc_id", "doc-00042")))
    assert(st.rowsDeleted == 1 && st.partsRewritten == 1, s"$st")
    val byGen = df.groupBy(col("_gen"))
      .agg(collect_set(col("_part_id")).as("parts"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Int](1).toSet).toMap
    assert(byGen(1) == Set(victimPart), s"$byGen")
    assert(!byGen.getOrElse(0, Set.empty).contains(victimPart), s"$byGen")
    // a metadata-valued filter evaluates as a residual over the scan
    val gen1Rows = df.filter(col("_gen") === 1).count()
    val partRows = df.filter(col("_part_id") === victimPart).count()
    assert(gen1Rows == partRows && gen1Rows > 0)
  }

  test("metadata columns resolve by NAME through the catalog SQL surface") {
    val dir = mkTable(300, 2)
    spark.conf.set("spark.sql.catalog.gmeta", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gmeta.root",
      java.nio.file.Files.createTempDirectory("graft-metacat").toString)
    spark.sql("CREATE NAMESPACE gmeta.q")
    spark.sql(s"CREATE TABLE gmeta.q.t USING graft LOCATION '$dir'")
    val byPart = spark.sql(
      "SELECT _part_id, count(*) AS n FROM gmeta.q.t GROUP BY _part_id")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byPart.keySet == Set(0, 1) && byPart.values.sum == 300, s"$byPart")
  }

  test("metadata projection still rides the payload-skipping path and " +
      "pushed aggregates are unaffected") {
    val dir = mkTable(400, 2)
    val df = spark.read.format("graft").load(dir)
    // count(*) with no metadata involvement stays manifest-only
    val agg = df.agg(count(lit(1)).as("c"))
    assert(agg.queryExecution.executedPlan.toString.contains("manifest-only"),
      agg.queryExecution.executedPlan.toString)
    // metadata + n_tok projection: no tokens column requested — the scan
    // description must show the payload-free column set
    val q = df.select(col("_chunk_id"), col("n_tok"))
    val desc = q.queryExecution.executedPlan.toString
    assert(!desc.contains("tokens"), desc)
    assert(q.count() == 400)
  }
}
