package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.{array_contains, col, lit}
import graft.engine.{EncoderConfig, Lineage, SeqRow}

/** Round-5 DSv2 ergonomics: manifest statistics, manifest-only aggregate
  * pushdown, limit pushdown, token-containment chunk pruning, and the
  * bounded-planning cap. */
class GraftPushdownSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  private lazy val (dir, rows) = {
    val rs = (0 until 1500).map { i =>
      SeqRow(f"doc-$i%08d", Array.tabulate(12)(t => (i * 13 + t) % 50000), 12,
        if (i % 5 == 0) "books" else "web")
    }
    val d = java.nio.file.Files.createTempDirectory("graft-push").toString
    import spark.implicits._
    Lineage.encodeToDir(spark.createDataset(rs), d,
      EncoderConfig(chunkTokens = 1 << 11, numPartitions = 3))
    (d, rs)
  }

  private def scanPartitions(df: org.apache.spark.sql.DataFrame): Int = {
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty, "no BatchScanExec in plan")
    scans.map(_.inputPartitions.size).sum
  }

  test("scan reports manifest-exact statistics; small graft table broadcasts") {
    val df = spark.read.format("graft").load(dir)
    val stats = df.queryExecution.optimizedPlan.stats
    // exact row count from the manifest; size is a conservative in-memory
    // estimate — nonzero and well under the broadcast threshold here
    assert(stats.sizeInBytes > 0 && stats.sizeInBytes < 10L * 1024 * 1024,
      s"sizeInBytes=${stats.sizeInBytes}")
    import spark.implicits._
    val big = spark.range(0, 50000).map(i => f"doc-${i % 3000}%08d")
      .toDF("doc_id")
    // NO broadcast hint: statistics alone must make the graft side the
    // broadcast build side
    val joined = big.join(df.select("doc_id", "n_tok"), "doc_id")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected BroadcastHashJoin from reported stats, got:\n$plan")
    assert(joined.count() == 25500L) // doc-0..1499 hit, 17 occurrences each
  }

  test("count/min/max/sum push down to a manifest-only scan: zero chunk reads") {
    val df = spark.read.format("graft").load(dir)
    df.createOrReplaceTempView("graft_push_t")
    val q = spark.sql(
      """SELECT count(*) AS c, count(source) AS cs, min(doc_id) AS mn,
        |       max(doc_id) AS mx, sum(n_tok) AS st FROM graft_push_t""".stripMargin)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("manifest-only aggregate"),
      s"aggregate not pushed to the manifest:\n$plan")
    val r = q.collect()(0)
    assert(r.getLong(0) == 1500L && r.getLong(1) == 1500L)
    assert(r.getString(2) == "doc-00000000" && r.getString(3) == "doc-00001499")
    assert(r.getLong(4) == 1500L * 12)
    // GROUP BY source is manifest-answerable too (dedicated test below);
    // the numbers agree with the ground truth either way
    val g = spark.sql(
      "SELECT source, count(*) c FROM graft_push_t GROUP BY source")
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(g == Map("books" -> 300L, "web" -> 1200L))
    val f = spark.sql(
      "SELECT count(*) FROM graft_push_t WHERE doc_id >= 'doc-00001490'")
      .collect()(0).getLong(0)
    assert(f == 10L)
    // empty table: count 0, min/max/sum NULL (SQL over zero rows)
    val empty = java.nio.file.Files.createTempDirectory("graft-empty").toString
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(empty, "_lineage"))
    spark.read.format("graft").load(empty)
      .createOrReplaceTempView("graft_empty_t")
    val e = spark.sql(
      "SELECT count(*), min(doc_id), max(doc_id), sum(n_tok) FROM graft_empty_t")
      .collect()(0)
    assert(e.getLong(0) == 0L && e.isNullAt(1) && e.isNullAt(2) && e.isNullAt(3))
  }

  test("GROUP BY source pushes to a manifest-only grouped scan: zero chunk AND zero meta reads") {
    val df = spark.read.format("graft").load(dir)
    df.createOrReplaceTempView("graft_push_g")
    val q = spark.sql(
      """SELECT source, count(*) AS c, count(doc_id) AS cd,
        |       sum(n_tok) AS st
        |FROM graft_push_g GROUP BY source""".stripMargin)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("manifest-only grouped aggregate"),
      s"grouped aggregate not pushed to the manifest:\n$plan")
    val got = q.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == Set(("books", 300L, 300L, 3600L),
      ("web", 1200L, 1200L, 14400L)), s"got $got")
    // current-format manifests carry SrcStats for every chunk: no chunk
    // was opened (no GraftScan planned) and no meta section was read
    val gs = q.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan
    }.collectFirst { case s: GraftSourceAggScan => s }
    assert(gs.exists(_.lastMetaFallbackChunks == 0),
      s"meta fallback count was ${gs.map(_.lastMetaFallbackChunks)}")
    // per-source min/max(doc_id) is NOT manifest-answerable (zone maps are
    // chunk-global) -> falls back to the normal scan, same answer
    val q2 = spark.sql(
      "SELECT source, min(doc_id) AS mn FROM graft_push_g GROUP BY source")
    assert(!q2.queryExecution.executedPlan.toString
      .contains("grouped aggregate"))
    assert(q2.collect().map(r => r.getString(0) -> r.getString(1)).toMap ==
      Map("books" -> "doc-00000000", "web" -> "doc-00000001"))
  }

  test("GROUP BY source pushdown answers at graft.agg.maxGroups = " +
      "Int.MaxValue on both executors (cap + 1 wraps)") {
    def groups(): Set[(String, Long, Long)] = {
      val q = spark.read.format("graft").load(dir).groupBy("source")
        .agg(org.apache.spark.sql.functions.count(lit(1)),
          org.apache.spark.sql.functions.sum(col("n_tok")))
      assert(q.queryExecution.executedPlan.toString
        .contains("manifest-only grouped aggregate"))
      q.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    }
    val want = Set(("books", 300L, 3600L), ("web", 1200L, 14400L))
    spark.conf.set("graft.agg.maxGroups", Int.MaxValue.toString)
    try {
      assert(groups() == want)
      spark.conf.set("graft.plan.localManifestBytes", "0")
      assert(groups() == want)
    } finally {
      spark.conf.unset("graft.agg.maxGroups")
      spark.conf.unset("graft.plan.localManifestBytes")
    }
  }

  test("grouped pushdown falls back to META reads for pre-SrcStats manifests") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    // clone the table dir, then strip the src_stats field from every
    // manifest line — exactly what a dir written by the previous engine
    // version looks like
    val old = Files.createTempDirectory("graft-push-old").toString
    def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
      Files.walk(src).iterator().asScala.foreach { p =>
        val t = dst.resolve(src.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(t)
        else Files.copy(p, t,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
    copyTree(Paths.get(dir), Paths.get(old))
    val lin = Paths.get(old, "_lineage")
    Files.list(lin).iterator().asScala.toSeq.foreach { p =>
      val name = p.getFileName.toString
      if (name.endsWith(".crc")) Files.delete(p) // stale checksum sidecars
      else if (name.endsWith(".json")) {
        val txt = new String(Files.readAllBytes(p), "UTF-8")
        Files.write(p, txt.replaceAll(""""src_stats":"[^"]*",""", "")
          .getBytes("UTF-8"))
      }
    }
    val q = spark.read.format("graft").load(old)
      .groupBy("source")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("c"),
        org.apache.spark.sql.functions.sum(col("n_tok")).as("st"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("manifest-only grouped aggregate"),
      s"grouped aggregate not pushed:\n$plan")
    val got = q.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("books", 300L, 3600L), ("web", 1200L, 14400L)),
      s"got $got")
    // every chunk lacked stats -> every chunk paid one meta read (and the
    // answer is still exact — fail-open, never wrong)
    val gs = q.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan
    }.collectFirst { case s: GraftSourceAggScan => s }
    val totalChunks = Lineage.readManifest(spark, old).count().toInt
    assert(gs.exists(_.lastMetaFallbackChunks == totalChunks),
      s"fallback ${gs.map(_.lastMetaFallbackChunks)} != chunks $totalChunks")
  }

  /** Runs `body` on the driver-local executor, then again with
    * `graft.plan.localManifestBytes=0` (the distributed executor). */
  private def onBothExecutors(body: => Unit): Unit = {
    body
    spark.conf.set("graft.plan.localManifestBytes", "0")
    try body finally spark.conf.unset("graft.plan.localManifestBytes")
  }

  private def groupedBySource(d: String)
      : (Set[(String, Long, Long)], Option[GraftSourceAggScan]) = {
    val q = spark.read.format("graft").load(d).groupBy("source")
      .agg(org.apache.spark.sql.functions.count(lit(1)),
        org.apache.spark.sql.functions.sum(col("n_tok")))
    assert(q.queryExecution.executedPlan.toString
      .contains("manifest-only grouped aggregate"))
    val got = q.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val scan = q.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan
    }.collectFirst { case s: GraftSourceAggScan => s }
    (got, scan)
  }

  test("grouped pushdown over a mixed-era dir is exact on both executors " +
      "and meta-reads only the pre-SrcStats chunks") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    // clone the table, then strip src_stats from ONE manifest file: that
    // partition reads like the previous engine version wrote it
    val mixed = Files.createTempDirectory("graft-push-mixed")
    Files.walk(Paths.get(dir)).iterator().asScala.foreach { p =>
      val t = mixed.resolve(Paths.get(dir).relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else if (!p.getFileName.toString.endsWith(".crc")) Files.copy(p, t,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val manifests = Files.list(mixed.resolve("_lineage")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".json")).toSeq
      .sortBy(_.getFileName.toString)
    assert(manifests.size > 1, s"need several manifests, got $manifests")
    val stripped = manifests.head
    val lines = Files.readAllLines(stripped).asScala.filter(_.nonEmpty)
    assert(lines.forall(_.contains("\"src_stats\":\"")))
    Files.write(stripped, lines.map(_.replaceAll(""""src_stats":"[^"]*",""", ""))
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    val want = Set(("books", 300L, 3600L), ("web", 1200L, 14400L))
    onBothExecutors {
      val (got, scan) = groupedBySource(mixed.toString)
      assert(got == want, s"got $got")
      assert(scan.exists(_.lastMetaFallbackChunks == lines.size),
        s"fallback ${scan.map(_.lastMetaFallbackChunks)} != stripped " +
          s"chunks ${lines.size}")
    }
  }

  test("GROUP BY source pushdown fails loudly past graft.agg.maxGroups " +
      "on both executors") {
    spark.conf.set("graft.agg.maxGroups", "1")
    try onBothExecutors {
      val e = intercept[Exception](groupedBySource(dir))
      val msgs = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(x => String.valueOf(x.getMessage)).toSeq
      assert(msgs.exists(m => m.contains("exceeds 1 groups") &&
        m.contains("graft.agg.maxGroups")), msgs.mkString(" | "))
    } finally spark.conf.unset("graft.agg.maxGroups")
  }

  test("limit pushdown plans only the chunks that cover the limit") {
    spark.conf.set("graft.read.maxPartitionBytes", "1") // chunk-per-task
    try {
      val df = spark.read.format("graft").load(dir)
      val total = df.rdd.getNumPartitions
      assert(total > 3)
      val limited = df.limit(5)
      assert(scanPartitions(limited) == 1,
        "limit 5 must plan exactly one chunk")
      assert(limited.collect().length == 5)
      // a filter blocks limit pushdown (residual rows can't be pre-counted):
      // every zone-map-surviving chunk stays planned
      val f = df.filter(col("doc_id") >= "doc-00000000").limit(5)
      assert(f.collect().length == 5)
    } finally spark.conf.unset("graft.read.maxPartitionBytes")
  }

  test("containsToken option prunes chunks AND filters rows exactly") {
    spark.conf.set("graft.read.maxPartitionBytes", "1") // chunk-per-task
    val df = spark.read.format("graft").load(dir)
    val total = df.rdd.getNumPartitions
    val probe = rows(1200).tokens(0) // present in few rows
    val expected = rows.filter(_.tokens.contains(probe)).map(_.doc_id).toSet
    assert(expected.nonEmpty && expected.size < 10)
    val probed = spark.read.format("graft")
      .option("containsToken", probe.toString).load(dir)
    assert(probed.rdd.getNumPartitions < total,
      s"probe planned ${probed.rdd.getNumPartitions} of $total chunks")
    assert(probed.select("doc_id").collect().map(_.getString(0)).toSet
      == expected)
    // an OOV probe plans ZERO chunks
    val oov = spark.read.format("graft")
      .option("containsToken", "49999999").load(dir)
    assert(oov.rdd.getNumPartitions == 0 && oov.count() == 0L)
    spark.conf.unset("graft.read.maxPartitionBytes")
  }

  test("array_contains(tokens, v) filter prunes chunks through pure SQL") {
    spark.conf.set("graft.read.maxPartitionBytes", "1") // chunk-per-task
    val df = spark.read.format("graft").load(dir)
    val total = df.rdd.getNumPartitions
    val probe = rows(1200).tokens(0)
    val expected = rows.filter(_.tokens.contains(probe)).map(_.doc_id).toSet
    val filtered = df.filter(array_contains(col("tokens"), lit(probe)))
    assert(filtered.rdd.getNumPartitions < total,
      s"PushTokenContains did not prune: " +
        s"${filtered.rdd.getNumPartitions} of $total chunks planned")
    assert(filtered.select("doc_id").collect().map(_.getString(0)).toSet
      == expected)
    // TWO conjunct probes: AND semantics — chunks must admit BOTH, rows
    // must contain both
    val probe2 = rows(1200).tokens(5)
    val both = df.filter(array_contains(col("tokens"), lit(probe)) &&
      array_contains(col("tokens"), lit(probe2)))
    assert(both.rdd.getNumPartitions <= filtered.rdd.getNumPartitions)
    assert(both.select("doc_id").collect().map(_.getString(0)).toSet ==
      rows.filter(r => r.tokens.contains(probe) && r.tokens.contains(probe2))
        .map(_.doc_id).toSet)
    // a DISJUNCT must NOT prune (rows from any chunk can satisfy the OR)
    val ored = df.filter(
      array_contains(col("tokens"), lit(probe)) || col("source") === "books")
    assert(ored.rdd.getNumPartitions == total)
    assert(ored.count() ==
      rows.count(r => r.tokens.contains(probe) || r.source == "books").toLong)
    spark.conf.unset("graft.read.maxPartitionBytes")
  }

  test("In(doc_id, ...) pushes down: only zone-admitted chunks planned") {
    spark.conf.set("graft.read.maxPartitionBytes", "1") // chunk-per-task
    try {
      val df = spark.read.format("graft").load(dir)
      val total = df.rdd.getNumPartitions
      val keys = Seq("doc-00000042", "doc-00000967", "doc-00001234")
      val filtered = df.filter(col("doc_id").isin(keys: _*))
      assert(filtered.rdd.getNumPartitions < total,
        s"IN-list planned ${filtered.rdd.getNumPartitions} of $total")
      assert(filtered.select("doc_id").collect().map(_.getString(0)).toSet ==
        keys.toSet)
      // an all-out-of-range IN list plans zero chunks
      val none = df.filter(col("doc_id").isin("zzz-1", "zzz-2"))
      assert(none.rdd.getNumPartitions == 0 && none.count() == 0L)
    } finally spark.conf.unset("graft.read.maxPartitionBytes")
  }

  test("IN pruning compares in UTF-8 order: supplementary planes survive") {
    import spark.implicits._
    // U+E000 < U+10000 in UTF-8 bytes (EE.. < F0..) but the SURROGATE PAIR
    // for U+10000 sorts BELOW U+E000 in Java String (UTF-16) order — a
    // String-ordered zone test would prune the chunk and silently lose the
    // row (the residual filter cannot recover a pruned chunk)
    val ids = Seq("", "𐀀")
    val d = java.nio.file.Files.createTempDirectory("graft-utf8").toString
    Lineage.encodeToDir(
      spark.createDataset(ids.map(id => SeqRow(id, Array(1), 1, "s"))), d,
      EncoderConfig(chunkTokens = 1 << 10, numPartitions = 1))
    val hit = spark.read.format("graft").load(d)
      .filter(col("doc_id").isin(""))
      .select("doc_id").collect().map(_.getString(0))
    assert(hit.toSeq == Seq(""), s"got ${hit.toSeq}")
  }

  test("runtime filtering prunes RANGE shapes too, in UTF-8 order") {
    // Spark's DPP subqueries deliver In-sets; range-shaped runtime filters
    // arrive through the same SupportsRuntimeFiltering.filter entry point
    // (e.g. min/max runtime filters). Drive that contract directly: a
    // range filter must shrink the planned chunk count exactly as the
    // static pushdown would, and never below what the data requires.
    spark.conf.set("graft.read.maxPartitionBytes", "1") // chunk-per-task
    try {
      import org.apache.spark.sql.sources.{GreaterThan, LessThan}
      def planned(fs: Array[org.apache.spark.sql.sources.Filter]): Int = {
        val df = spark.read.format("graft").load(dir).select("doc_id")
        val scan = df.queryExecution.executedPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.scan
        }.collectFirst { case g: GraftScan => g }.get
        scan.filter(fs)
        scan.planInputPartitions()
          .map(_.asInstanceOf[GraftInputPartition].rows.length).sum
      }
      val all = planned(Array.empty)
      // doc ids are doc-00000000..doc-00001499: a high cutoff keeps only
      // the tail chunks, a LessThan keeps only the head chunks
      val hi = planned(Array(GreaterThan("doc_id", "doc-00001400")))
      val lo = planned(Array(LessThan("doc_id", "doc-00000100")))
      assert(hi > 0 && hi < all, s"GreaterThan did not prune: $hi of $all")
      assert(lo > 0 && lo < all, s"LessThan did not prune: $lo of $all")
      // pruning is an optimization, not semantics: the kept chunks still
      // hold every matching row (verify through a full read with the same
      // predicate)
      val n = spark.read.format("graft").load(dir)
        .filter(col("doc_id") > "doc-00001400").count()
      assert(n == 99L, s"range read returned $n rows")
    } finally spark.conf.unset("graft.read.maxPartitionBytes")
  }

  test("runtime (DPP-style) filtering prunes chunks through a join") {
    spark.conf.set("graft.read.maxPartitionBytes", "1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    spark.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio", "10")
    try {
      import spark.implicits._
      val fact = spark.read.format("graft").load(dir)
      val totalChunks = Lineage.readManifest(spark, dir).collect().length
      // dim must be a real SOURCE (a LocalRelation's filter constant-folds
      // away before PartitionPruning looks for a selective predicate)
      val dimPath =
        java.nio.file.Files.createTempDirectory("graft-dpp-dim").toString
      Seq(("doc-00000042", 1), ("doc-00000967", 1),
        ("doc-00001234", 2)).toDF("doc_id", "cat")
        .write.mode("overwrite").parquet(dimPath)
      val dim = spark.read.parquet(dimPath)
      // the dim's selective filter is only known at EXECUTION time on the
      // fact side: DPP must deliver the surviving doc_ids into the scan
      // (EqualTo — the pruning heuristic requires a "likely selective"
      // predicate shape; a bare boolean attribute does not qualify)
      val joined = fact.join(dim.filter(col("cat") === 1), "doc_id")
        .select("doc_id", "n_tok")
      val planStr = joined.queryExecution.executedPlan.toString
      assert(planStr.toLowerCase.contains("dynamicpruning"),
        s"no runtime filter planned on the graft scan:\n$planStr")
      val got = joined.collect()
      assert(got.map(_.getString(0)).toSet ==
        Set("doc-00000042", "doc-00000967"))
      val scan = joined.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan
      }.collectFirst { case g: GraftScan => g }.get
      assert(scan.lastPlannedChunks >= 0 &&
        scan.lastPlannedChunks < totalChunks,
        s"runtime filter did not prune: planned ${scan.lastPlannedChunks} " +
          s"of $totalChunks chunks")
    } finally {
      spark.conf.unset("graft.read.maxPartitionBytes")
      spark.conf.unset("spark.sql.adaptive.enabled")
      spark.conf.unset("spark.sql.optimizer.dynamicPartitionPruning.useStats")
      spark.conf.unset(
        "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio")
    }
  }

  test("readChunkMeta seeks past the payload: meta identical, payload empty") {
    val conf = spark.sparkContext.hadoopConfiguration
    Lineage.readManifest(spark, dir).collect().foreach { m =>
      val full = Lineage.readChunk(conf, dir, m)
      val metaOnly = Lineage.readChunkMeta(conf, dir, m)
      assert(metaOnly.payload.isEmpty)
      assert(java.util.Arrays.equals(metaOnly.meta, full.meta),
        s"meta diverges for chunk ${m.chunk_id}")
    }
    // a hostile frame head (huge payload-length varint) must fail TYPED,
    // before any allocation or seek — not wrap, not allocate, not read junk
    val m0 = Lineage.readManifest(spark, dir).collect().minBy(_.offset)
    val dataFile = java.nio.file.Paths.get(dir,
      f"data/part-${m0.part_id}%05d.graft")
    val orig = java.nio.file.Files.readAllBytes(dataFile)
    val evil = orig.clone()
    var i = 0
    while (i < 9) { evil(m0.offset.toInt + i) = 0xFF.toByte; i += 1 }
    evil(m0.offset.toInt + 9) = 0x01.toByte
    java.nio.file.Files.write(dataFile, evil)
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(dir,
      f"data/.part-${m0.part_id}%05d.graft.crc"))
    try {
      intercept[graft.codec.CorruptException] {
        Lineage.readChunkMeta(conf, dir, m0)
      }
    } finally java.nio.file.Files.write(dataFile, orig)
  }

  test("graft_source_stats driver query rides the manifest-only plan") {
    val df = graft.queries.EngineQueries.graftSourceStats(spark,
      "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("manifest-only aggregate"),
      s"driver query fell off the pushed path:\n$plan")
    val r = df.collect()(0)
    assert(r.getLong(0) == 5000L && r.getLong(3) > 0L)
    assert(r.getString(1) == "doc-000000000000")
  }

  test("planning is bounded: graft.plan.maxChunks fails loudly, never OOMs") {
    spark.conf.set("graft.plan.maxChunks", "2")
    try {
      val e = intercept[Exception] {
        spark.read.format("graft").load(dir).collect()
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
      assert(msgs(e).exists(m => m != null && m.contains("graft.plan.maxChunks")),
        s"unexpected failure: $e")
    } finally spark.conf.unset("graft.plan.maxChunks")
    assert(spark.read.format("graft").load(dir).count() == 1500L)
    // the largest cap plans every chunk on both executors (cap + 1 wraps)
    val all = Lineage.readManifest(spark, dir).count()
    spark.conf.set("graft.plan.maxChunks", Int.MaxValue.toString)
    try {
      def plan() = GraftPlanning.prunedManifest(spark, Seq(dir), Array.empty,
        Array.empty).length.toLong
      assert(plan() == all)
      spark.conf.set("graft.plan.localManifestBytes", "0")
      assert(plan() == all)
    } finally {
      spark.conf.unset("graft.plan.maxChunks")
      spark.conf.unset("graft.plan.localManifestBytes")
    }
  }
}
