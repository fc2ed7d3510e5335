package graft.spark

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{ChunkBuilder, EncoderConfig, Lineage, SeqRow}

/** Replace-commit intent (row-level UPDATE/MERGE crash recovery): a crash
  * between the fresh-group swaps and the scanned-group retirements used to
  * leave survivors duplicated permanently (ADVICE r6, medium). The intent
  * file + recovery close the hole:
  *   - all fresh pids committed -> roll FORWARD (finish the retirement);
  *   - any fresh pid missing    -> roll BACK (remove the landed fresh
  *     pids, restoring the pre-DML table);
  * and a completed commit leaves no intent behind. */
class GraftReplaceIntentSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  private def mkRows(n: Int): Seq[SeqRow] =
    (0 until n).map(i =>
      SeqRow(f"doc-$i%05d", Array.tabulate(8)(t => (i + t) % 90), 8, "web"))

  private def mk(name: String, n: Int, parts: Int): String = {
    import spark.implicits._
    val dir =
      java.nio.file.Files.createTempDirectory(s"graft-intent-$name").toString
    Lineage.encodeToDir(spark.createDataset(mkRows(n)), dir,
      EncoderConfig(chunkTokens = 1 << 9, numPartitions = parts))
    dir
  }

  private def fsFor(dir: String) =
    org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir),
      spark.sparkContext.hadoopConfiguration)

  /** Commit a real fresh group holding `rows` at `pid` (the adds half of a
    * replace commit). */
  private def addFreshGroup(dir: String, pid: Int, rows: Seq[SeqRow]): Unit = {
    val fs = fsFor(dir)
    val stager = new Lineage.GroupStager(fs, dir, pid, "test-attempt")
    stager.add(ChunkBuilder.build(pid, 0, rows.map(_.doc_id).toArray,
      rows.map(_.source).toArray, rows.flatMap(_.tokens).toArray,
      rows.map(_.n_tok).toArray))
    val (staged, mrows) = stager.finish().get
    Lineage.swapInGroup(fs, dir, pid, Some(staged), mrows)
  }

  private def tableRows(dir: String): Set[String] = {
    import spark.implicits._
    spark.read.format("graft").load(dir).as[SeqRow].map(_.doc_id).collect()
      .toSet
  }

  /** The rows of lineage partition `pid`. _part_id gives the EXACT
    * membership (zone ranges overlap across hash partitions). */
  private def partRows(dir: String, pid: Int): Seq[SeqRow] = {
    import org.apache.spark.sql.functions.col
    spark.read.format("graft").load(dir)
      .select(col("doc_id"), col("tokens"), col("n_tok"), col("source"),
        col("_part_id"))
      .where(col("_part_id") === pid)
      .collect()
      .map(r => SeqRow(r.getString(0),
        r.getSeq[Int](1).toArray, r.getInt(2), r.getString(3)))
      .toSeq
  }

  /** The roll-forward crash state: partition 1's rows were rewritten
    * verbatim into fresh pid 3 and the process died before retiring pid 1,
    * so its rows exist twice. Returns partition 1's rows. */
  private def crashBeforeRetirement(dir: String): Seq[SeqRow] = {
    val rows1 = partRows(dir, 1)
    assert(rows1.nonEmpty)
    addFreshGroup(dir, 3, rows1) // adds landed
    Lineage.writeReplaceIntent(fsFor(dir), dir, Seq(3), Seq(1))
    rows1
  }

  /** The table's doc_ids, sorted, read once through the driver-local
    * manifest and once through the distributed one: both reads must agree
    * and hold no doc_id twice. */
  private def readBothWays(dir: String): Seq[String] = {
    def ids(): Seq[String] = spark.read.format("graft").load(dir)
      .select("doc_id").collect().map(_.getString(0)).toSeq.sorted
    val local = ids()
    spark.conf.set("graft.plan.localManifestBytes", "0")
    val distributed =
      try ids() finally spark.conf.unset("graft.plan.localManifestBytes")
    assert(local == distributed, "the two manifest executors disagree")
    assert(local.distinct.length == local.length, "a doc_id read twice")
    local
  }

  test("a pending intent reads as the post-state (all fresh pids " +
      "committed) or the pre-state (otherwise), on both manifest executors") {
    val fwd = mk("view-fwd", 300, 3)
    val all = tableRows(fwd)
    crashBeforeRetirement(fwd)
    assert(readBothWays(fwd) == all.toSeq.sorted)

    val back = mk("view-back", 300, 3)
    val before = tableRows(back)
    addFreshGroup(back, 3,
      Seq(SeqRow("zzz-rolled-back", Array(1, 2, 3), 3, "web")))
    Lineage.writeReplaceIntent(fsFor(back), back, Seq(3, 4), Seq(0, 1))
    assert(readBothWays(back) == before.toSeq.sorted)

    // an unreadable intent fails the read as loudly as recovery does
    val fs = fsFor(back)
    val intent = new org.apache.hadoop.fs.Path(
      s"$back/_lineage/_replace_intent.json")
    fs.delete(intent, false)
    val out = fs.create(intent, true)
    out.write("{garbled".getBytes("UTF-8"))
    out.close()
    val conf = spark.sparkContext.hadoopConfiguration
    Seq(intercept[java.io.IOException](
        Lineage.readManifestLocal(conf, back, Long.MaxValue)),
      intercept[java.io.IOException](Lineage.readManifest(spark, back)),
      intercept[java.io.IOException](Lineage.recoverReplaceIntent(fs, back))
    ).foreach(e => assert(e.getMessage.contains("unreadable replace intent"),
      e.getMessage))
  }

  test("roll forward: adds complete, crash before retirement -> recovery " +
      "finishes the retirement and the duplicates disappear") {
    val dir = mk("fwd", 300, 3)
    val fs = fsFor(dir)
    val all = tableRows(dir)
    crashBeforeRetirement(dir)
    // crash here: pid 1 not retired -> its rows exist twice on disk, and
    // reads skip it through the pending intent
    assert(Lineage.committedPidGens(fs, dir).contains((1, 0)))
    assert(Lineage.readManifest(spark, dir).collect()
      .filter(_.part_id == 1).isEmpty)
    assert(Lineage.recoverReplaceIntent(fs, dir))
    // retired: pid 1's top generation is empty; content identical to the
    // pre-crash table (rows1 now live in pid 3 only) — the COUNT check is
    // what catches surviving duplicates, the set compare alone would not
    val after = tableRows(dir)
    assert(after == all)
    assert(spark.read.format("graft").load(dir).select("doc_id")
      .queryExecution.toRdd.count() == all.size.toLong,
      "row count must match — duplicates would survive a missed retirement")
    val m1After = Lineage.readManifest(spark, dir).collect()
      .filter(_.part_id == 1)
    assert(m1After.isEmpty, "retired group must expose zero chunks")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/_lineage/_replace_intent.json")))
    // idempotent: nothing left to recover
    assert(!Lineage.recoverReplaceIntent(fs, dir))
  }

  test("an UPDATE over a crashed commit's duplicates recovers before its " +
      "rewrite scan: every doc_id reads back exactly once, updated") {
    spark.conf.set("spark.sql.catalog.gint", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gint.root",
      java.nio.file.Files.createTempDirectory("graft-intent-cat").toString)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gint.q")
    val dir = mk("upd-fwd", 300, 3)
    val all = tableRows(dir)
    // the updated doc is one of the duplicated rows: a rewrite scan planned
    // over both copies would write both back
    val target = crashBeforeRetirement(dir).head.doc_id
    spark.sql(s"CREATE TABLE gint.q.fwd USING graft LOCATION '$dir'")
    spark.sql(
      s"UPDATE gint.q.fwd SET source = 'curated' WHERE doc_id = '$target'")
    val got = spark.table("gint.q.fwd").select("doc_id", "source").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(got.length == all.size,
      s"${got.length} rows for ${all.size} doc_ids — duplicates leaked")
    assert(got.map(_._1).toSet == all)
    assert(got.filter(_._2 == "curated").map(_._1).toSeq == Seq(target))
    assert(!fsFor(dir).exists(new org.apache.hadoop.fs.Path(
      s"$dir/_lineage/_replace_intent.json")))
  }

  test("roll back: a fresh pid missing -> recovery removes the landed " +
      "fresh groups and the table reads exactly as before the DML") {
    val dir = mk("back", 300, 3)
    val fs = fsFor(dir)
    val before = tableRows(dir)
    // the dead commit planned fresh pids 3 AND 4 but only 3 landed
    addFreshGroup(dir, 3,
      Seq(SeqRow("zzz-rolled-back", Array(1, 2, 3), 3, "web")))
    Lineage.writeReplaceIntent(fs, dir, Seq(3, 4), Seq(0, 1))
    assert(Lineage.recoverReplaceIntent(fs, dir))
    assert(tableRows(dir) == before,
      "roll back must restore the pre-DML content")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/_lineage/_replace_intent.json")))
  }

  test("roll back: a fresh pid whose data landed without its manifest " +
      "-> recovery deletes the data file and vacuum finds nothing left") {
    val dir = mk("back-data", 300, 3)
    val fs = fsFor(dir)
    val before = tableRows(dir)
    // the dead commit planned fresh pids 3 and 4: pid 3's data file was
    // renamed into place, then the process died before its manifest rename
    val rows = Seq(SeqRow("zzz-data-only", Array(4, 5), 2, "web"))
    val stager = new Lineage.GroupStager(fs, dir, 3, "test-attempt")
    stager.add(ChunkBuilder.build(3, 0, rows.map(_.doc_id).toArray,
      rows.map(_.source).toArray, rows.flatMap(_.tokens).toArray,
      rows.map(_.n_tok).toArray))
    val (staged, _) = stager.finish().get
    val data = new org.apache.hadoop.fs.Path(s"$dir/data/part-00003.graft")
    assert(fs.rename(new org.apache.hadoop.fs.Path(staged), data))
    Lineage.writeReplaceIntent(fs, dir, Seq(3, 4), Seq(0, 1))
    assert(Lineage.recoverReplaceIntent(fs, dir))
    assert(!fs.exists(data), "rolled-back fresh data file leaked")
    assert(tableRows(dir) == before)
    assert(Lineage.vacuum(spark.sparkContext.hadoopConfiguration, dir) ==
      Lineage.VacuumStats(0, 0, 0))
  }

  test("vacuum resolves a pending intent before sweeping") {
    val dir = mk("vac", 200, 2)
    val fs = fsFor(dir)
    val before = tableRows(dir)
    addFreshGroup(dir, 2,
      Seq(SeqRow("zzz-vacuum-case", Array(9), 1, "web")))
    Lineage.writeReplaceIntent(fs, dir, Seq(2, 3), Seq(0))
    Lineage.vacuum(spark.sparkContext.hadoopConfiguration, dir)
    assert(tableRows(dir) == before)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/_lineage/_replace_intent.json")))
  }

  test("a completed UPDATE leaves no intent file") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.gint", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gint.root",
      java.nio.file.Files.createTempDirectory("graft-intent-cat").toString)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gint.q")
    val dir = mk("sql", 300, 3)
    spark.sql(s"CREATE TABLE gint.q.t USING graft LOCATION '$dir'")
    spark.sql(
      "UPDATE gint.q.t SET source = 'curated' WHERE doc_id = 'doc-00007'")
    assert(!fsFor(dir).exists(new org.apache.hadoop.fs.Path(
      s"$dir/_lineage/_replace_intent.json")))
    val cur = spark.table("gint.q.t").where("source = 'curated'")
      .select("doc_id").as[String].collect().toSeq
    assert(cur == Seq("doc-00007"))
  }
}
