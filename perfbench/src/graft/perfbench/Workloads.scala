package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.{array_contains, col, count, lit, shiftrightunsigned, sum, xxhash64}

import graft.engine.{Lineage, SeqRow}
import graft.io.Corpus

/** A wrong answer from the program under test. It ends the run with a
  * non-zero exit and is never turned into a metric. */
final class Mismatch(msg: String) extends Exception(msg)

final case class Ctx(spark: SparkSession, seed: Long, work: String)

/** One closed-loop operation. `run` is the timed part and returns the
  * program's answer; `check` validates that answer (untimed, throws
  * Mismatch) and applies the operation to the client's model. `dir` is the
  * table a write changes and `userBytes` the 4-byte tokens it adds, removes
  * or changes, for the traced run's write-amplification counts. */
final case class Op(kind: String, isWrite: Boolean, run: () => Any,
                    check: Any => Unit, dir: String = null, userBytes: Long = 0L)

abstract class Workload(val ctx: Ctx) {
  /** Rows generated for this workload's corpus. */
  def corpusRows: Int
  /** Build everything the timed phase needs, from scratch. Called several
    * times per run; the last call's state is measured. */
  def setup(round: Int): Unit
  /** Counts of the table as set up; they must repeat exactly for one seed. */
  var counts: Map[String, Double] = Map.empty
  def storedBytesRatio: Double = counts("stored_bytes_ratio")
  def next(): Op
  /** The operation kinds `next` deals; op_cpu_ms and op_p50_ms need
    * samples of each. */
  def kinds: Seq[String]
  /** Operations run after the last set-up and before timing starts. */
  def warmupOps: Int
  /** Final correctness check of the program's state (untimed). */
  def finish(): Unit
  /** The table the layer probes read. */
  def tableDir: String
  /** Workload-specific figures from the per-kind latencies (ms). */
  def report(lat: Map[String, Seq[Double]]): Seq[(String, Double, String)]
  /** Drops cached data so the retained-heap figure sees only the program. */
  def release(): Unit = ()
  /** The token in fewest rows of the corpus, for the rare-probe shape. */
  lazy val rareToken: Int = Layers.rarestTokens(ctx.seed, corpusRows, 1, exclude = 0)(0)
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "ingest" => new Ingest(ctx)
    case "scan"   => new Scan(ctx)
    case "serve"  => new Serve(ctx)
  }

  def check(ok: Boolean, msg: => String): Unit = if (!ok) throw new Mismatch(msg)

  /** 64-bit digest of a whole row: multisets of these compare tables. */
  def digest(docId: String, tokens: Array[Int], nTok: Int, source: String): Long = {
    var h = Corpus.mix(0x243F6A8885A308D3L, nTok.toLong)
    var i = 0
    while (i < docId.length) { h = Corpus.mix(h, docId.charAt(i).toLong); i += 1 }
    h = Corpus.mix(h, -1L)
    i = 0
    while (i < tokens.length) { h = Corpus.mix(h, tokens(i).toLong); i += 1 }
    h = Corpus.mix(h, -2L)
    i = 0
    while (i < source.length) { h = Corpus.mix(h, source.charAt(i).toLong); i += 1 }
    h
  }
  def digest(r: SeqRow): Long = digest(r.doc_id, r.tokens, r.n_tok, r.source)

  def digests(ds: Dataset[SeqRow]): Array[Long] = {
    import ds.sparkSession.implicits._
    ds.map(r => digest(r)).collect().sorted
  }

  def readTable(spark: SparkSession, dir: String): Dataset[SeqRow] = {
    import spark.implicits._
    spark.read.format("graft").load(dir).as[SeqRow]
  }

  /** Bytes of every file under `dir`. */
  def dirBytes(dir: String): Long = files(dir).values.map(_._1).sum

  /** path -> (size, mtime) of every file under `dir`. */
  def files(dir: String): Map[String, (Long, Long)] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) return Map.empty
    val s = java.nio.file.Files.walk(root)
    try {
      val out = Map.newBuilder[String, (Long, Long)]
      s.filter(p => java.nio.file.Files.isRegularFile(p)).forEach { p =>
        val f = p.toFile
        out += root.relativize(p).toString -> ((f.length(), f.lastModified()))
      }
      out.result()
    } finally s.close()
  }

  /** The files under `dir` that are new or changed since `before`. */
  def changedFiles(before: Map[String, (Long, Long)], dir: String): Map[String, (Long, Long)] =
    files(dir).filter { case (p, v) => !before.get(p).contains(v) }

  /** Counts of a freshly written table of `tokens` tokens. */
  def tableCounts(w: Workload, dir: String, tokens: Long): Map[String, Double] =
    Map("stored_bytes_ratio" -> dirBytes(dir).toDouble / (4.0 * tokens)) ++
      chunkShare(w.ctx.spark, dir).map { case (k, v) => s"codec.chunk_share.$k" -> v } ++
      Layers.planCounts(w.ctx, w, dir)

  def deleteDir(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))

  /** Chunks per token codec, looking through the HPack entropy wrap to
    * the codec it wraps (the one the selector chose), plus how many chunks
    * are wrapped (`hpack`). */
  def chunkShare(spark: SparkSession, dir: String): Map[String, Double] = {
    import graft.codec.{CodecId, Huffman, TokenCodec}
    val conf = spark.sparkContext.hadoopConfiguration
    val ids = manifest(spark, dir).map { m =>
      val p = Lineage.readChunk(conf, dir, m).payload
      if (p(2) != CodecId.HPack) (p(2), false)
      else (Huffman.decode(p, TokenCodec.HeaderLen, p.length - TokenCodec.CrcLen)(2), true)
    }
    val by = ids.groupBy(x => CodecId.name(x._1))
    Layers.Schemes.filter(_ != "hpack").map(s => s -> by.get(s).fold(0.0)(_.length.toDouble)).toMap +
      ("hpack" -> ids.count(_._2).toDouble)
  }

  def manifest(spark: SparkSession, dir: String): Array[Lineage.ManifestRow] =
    Lineage.readManifestLocal(spark.sparkContext.hadoopConfiguration, dir,
      Long.MaxValue)._2.getOrElse(throw new IllegalStateException(s"no manifest in $dir"))

  def nTokens(ds: Dataset[SeqRow]): Long = {
    import ds.sparkSession.implicits._
    ds.map(_.n_tok.toLong).reduce(_ + _)
  }
}

import Workload._

/** `ingest`: each operation writes the cached corpus through the DSv2 sink
  * into a fresh table; every written table must read back as the input. */
final class Ingest(ctx: Ctx) extends Workload(ctx) {
  import ctx.spark
  val corpusRows = 12000
  private val Arrange = 8
  private var corpus: Dataset[SeqRow] = _
  private var expected: Array[Long] = _
  private var tokens = 0L
  private var written = 0
  private var firstDir: String = _

  private def write(): String = {
    val dir = s"${ctx.work}/ingest-$written"
    written += 1
    corpus.write.format("graft").option("arrange", Arrange).mode("append").save(dir)
    dir
  }
  private def verify(dir: String): Unit = {
    val got = digests(readTable(spark, dir))
    check(java.util.Arrays.equals(got, expected),
      s"ingest: table $dir does not read back as the generated corpus " +
        s"(${got.length} rows vs ${expected.length})")
  }

  def setup(round: Int): Unit = {
    if (corpus != null) corpus.unpersist(blocking = true)
    if (firstDir != null) deleteDir(firstDir)
    corpus = Corpus.table(spark, corpusRows, ctx.seed, partitions = Arrange).cache()
    tokens = nTokens(corpus)
    expected = digests(corpus)
    // warm-up write, kept as the table the layer probes read
    firstDir = write()
    verify(firstDir)
    counts = tableCounts(this, firstDir, tokens) +
      ("lineage.files_written" -> files(firstDir).size.toDouble)
  }
  def next(): Op = Op("write", isWrite = true, () => write(),
    r => { val dir = r.asInstanceOf[String]; verify(dir); deleteDir(dir) },
    userBytes = 4L * tokens)
  def kinds: Seq[String] = Seq("write")
  def warmupOps: Int = 8
  def finish(): Unit = verify(firstDir)
  def tableDir: String = firstDir
  def report(lat: Map[String, Seq[Double]]): Seq[(String, Double, String)] = {
    val p50 = Stats.median(lat("write"))
    Seq(("ingest_tok_s", tokens / (p50 / 1000.0), "tok/s"),
      ("corpus_rows", corpusRows.toDouble, "rows"),
      ("corpus_tokens", tokens.toDouble, "tok"))
  }
  override def release(): Unit = {
    if (corpus != null) corpus.unpersist(blocking = true)
    corpus = null
  }
}

/** `scan`: each operation is a full read that consumes every token value;
  * its checksum must equal the generated corpus's. */
final class Scan(ctx: Ctx) extends Workload(ctx) {
  import ctx.spark
  val corpusRows = 24000
  private val Arrange = 8
  private var dir: String = _
  private var expected: (Long, Long, Long) = _
  private var tokens = 0L

  /** (rows, sum of high halves, sum of low halves) of the per-row
    * xxhash64 of `tokens`: an order-free checksum that cannot overflow. */
  private def checksum(ds: org.apache.spark.sql.DataFrame): (Long, Long, Long) = {
    val h = xxhash64(col("tokens"))
    val r = ds.agg(count(lit(1)), sum(shiftrightunsigned(h, 32)), sum(h.bitwiseAND(0xffffffffL)))
      .collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def setup(round: Int): Unit = {
    if (dir != null) deleteDir(dir)
    dir = s"${ctx.work}/scan-$round"
    val corpus = Corpus.table(spark, corpusRows, ctx.seed, partitions = Arrange).cache()
    tokens = nTokens(corpus)
    expected = checksum(corpus.toDF())
    corpus.write.format("graft").option("arrange", Arrange).mode("append").save(dir)
    corpus.unpersist(blocking = true)
    counts = tableCounts(this, dir, tokens) + ("lineage.files_written" -> files(dir).size.toDouble)
    for (_ <- 0 until 2) { val op = next(); op.check(op.run()) }
  }
  def next(): Op = Op("read", isWrite = false,
    () => checksum(spark.read.format("graft").load(dir)),
    r => check(r == expected, s"scan: checksum ${r} != generated corpus's $expected"))
  def kinds: Seq[String] = Seq("read")
  def warmupOps: Int = 4
  def finish(): Unit = { val op = next(); op.check(op.run()) }
  def tableDir: String = dir
  def report(lat: Map[String, Seq[Double]]): Seq[(String, Double, String)] = {
    val p50 = Stats.median(lat("read"))
    Seq(("scan_tok_s", tokens / (p50 / 1000.0), "tok/s"),
      ("corpus_rows", corpusRows.toDouble, "rows"),
      ("corpus_tokens", tokens.toDouble, "tok"))
  }
}

/** `serve`: one client sends a seeded mix of point lookups, rare- and
  * head-token probes, small appends, point DELETEs and point UPDATEs to a
  * catalog-served table, checking every answer against its own model of
  * the table (live rows and updated sources). */
final class Serve(ctx: Ctx) extends Workload(ctx) {
  import ctx.spark
  import spark.implicits._
  val corpusRows = 6000
  private val Parts = 16
  private val ChunkTokens = 1 << 14
  private val AppendRows = 16
  private val RareCandidates = 64
  private val HeadToken = 0
  /** The client deals decks of one operation of each kind, each deck
    * shuffled by the seed: op_cpu_ms and op_p50_ms weigh every kind
    * equally, so each kind gets the same number of samples, and only the
    * order and the arguments vary with the seed. */
  val kinds: Seq[String] = Seq("point", "rare", "head", "append", "delete", "update")
  val Reads = Set("point", "rare", "head")
  def warmupOps: Int = 3 * kinds.length

  private var dir: String = _
  private var table: String = _
  // the client's model of the table
  private val nTok = mutable.ArrayBuffer[Int]()
  private val live = mutable.ArrayBuffer[Int]()
  private val livePos = mutable.HashMap[Int, Int]()
  private val source = mutable.HashMap[Int, String]()
  private val postings = mutable.HashMap[Int, mutable.ArrayBuffer[Int]]()
  private var rare: Array[Int] = _
  private var nextRow = 0
  private var updates = 0
  private var rng: Corpus.Rng = _
  private var deck = List.empty[String]

  private def row(i: Int): SeqRow = {
    val r = Corpus.row(ctx.seed, i)
    source.get(i).fold(r)(s => r.copy(source = s))
  }
  private def addLive(i: Int): Unit = { livePos(i) = live.length; live += i }
  private def removeLive(i: Int): Unit = {
    val p = livePos.remove(i).get
    val last = live.remove(live.length - 1)
    if (last != i) { live(p) = last; livePos(last) = p }
  }
  private def isLive(i: Int): Boolean = livePos.contains(i)
  private def addRow(r: SeqRow, i: Int): Unit = {
    nTok += r.n_tok
    r.tokens.distinct.foreach(t => postings.get(t).foreach(_ += i))
    addLive(i)
  }

  def setup(round: Int): Unit = {
    if (table != null) spark.sql(s"DROP TABLE IF EXISTS $table")
    if (dir != null) deleteDir(dir)
    dir = s"${ctx.work}/serve-$round"
    table = s"bench.serve.t$round"
    Corpus.table(spark, corpusRows, ctx.seed, partitions = Parts)
      .write.format("graft").option("chunkTokens", ChunkTokens).mode("append").save(dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS bench.serve")
    spark.sql(s"CREATE TABLE $table USING graft LOCATION '$dir'")

    // model: the rarest tokens of the corpus (fewest rows) and the head token
    rare = Layers.rarestTokens(ctx.seed, corpusRows, RareCandidates, exclude = HeadToken)
    nTok.clear(); live.clear(); livePos.clear(); source.clear(); postings.clear()
    (rare :+ HeadToken).foreach(t => postings(t) = mutable.ArrayBuffer[Int]())
    for (i <- 0 until corpusRows) addRow(Corpus.row(ctx.seed, i), i)
    nextRow = corpusRows
    updates = 0

    counts = tableCounts(this, dir, nTok.map(_.toLong).sum)
    // warm-up: one operation of each kind, in a fixed order
    rng = new Corpus.Rng(Corpus.mix(ctx.seed, 0x5e7eL))
    var prev = files(dir)
    for (k <- kinds) {
      val op = make(k)
      op.check(op.run())
      if (op.isWrite) {
        counts += s"lineage.files_written.$k" -> changedFiles(prev, dir).size.toDouble
        prev = files(dir)
      }
    }
    deck = Nil
  }

  def next(): Op = {
    if (deck.isEmpty) {
      val d = kinds.toArray
      for (i <- d.length - 1 to 1 by -1) {
        val j = rng.nextInt(i + 1); val x = d(i); d(i) = d(j); d(j) = x
      }
      deck = d.toList
    }
    val k = deck.head
    deck = deck.tail
    make(k)
  }

  private def pickLive(): Int = live(rng.nextInt(live.length))

  private def make(kind: String): Op = kind match {
    case "point" =>
      val i = rng.nextInt(nextRow)
      val r = row(i)
      Op(kind, isWrite = false,
        () => spark.table(table).filter(col("doc_id") === r.doc_id).collect(),
        res => {
          val rows = res.asInstanceOf[Array[Row]]
          if (!isLive(i)) check(rows.isEmpty, s"point ${r.doc_id}: deleted row returned")
          else check(rows.length == 1 && rows(0).getString(0) == r.doc_id &&
            rows(0).getSeq[Int](1) == r.tokens.toSeq && rows(0).getInt(2) == r.n_tok &&
            rows(0).getString(3) == r.source, s"point ${r.doc_id}: wrong answer")
        })
    case "rare" =>
      val t = rare(rng.nextInt(rare.length))
      Op(kind, isWrite = false,
        () => spark.table(table).filter(array_contains(col("tokens"), t))
          .select("doc_id", "source").collect(),
        res => {
          val got = res.asInstanceOf[Array[Row]].map(x => (x.getString(0), x.getString(1))).sorted
          val want = postings(t).filter(isLive).map(row).map(x => (x.doc_id, x.source))
            .toArray.sorted
          check(got.sameElements(want), s"rare probe $t: ${got.length} rows, want ${want.length}")
        })
    case "head" =>
      Op(kind, isWrite = false,
        () => spark.table(table).filter(array_contains(col("tokens"), HeadToken))
          .agg(count(lit(1)), sum(col("n_tok").cast("long"))).collect(),
        res => {
          val r = res.asInstanceOf[Array[Row]](0)
          val ps = postings(HeadToken).filter(isLive)
          val want = (ps.length.toLong, ps.map(i => nTok(i).toLong).sum)
          check((r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1)) == want,
            s"head probe: ($r) want $want")
        })
    case "append" =>
      val from = nextRow
      val rows = (from until from + AppendRows).map(i => Corpus.row(ctx.seed, i))
      Op(kind, isWrite = true,
        () => spark.createDataset(rows).writeTo(table).append(),
        _ => {
          rows.zipWithIndex.foreach { case (r, j) => addRow(r, from + j) }
          nextRow = from + AppendRows
        },
        dir, 4L * rows.map(_.n_tok.toLong).sum)
    case "delete" =>
      val i = pickLive()
      val id = row(i).doc_id
      Op(kind, isWrite = true,
        () => spark.sql(s"DELETE FROM $table WHERE doc_id = '$id'"),
        _ => removeLive(i), dir, 4L * nTok(i))
    case "update" =>
      val i = pickLive()
      val id = row(i).doc_id
      val src = s"upd-$updates"
      updates += 1
      Op(kind, isWrite = true,
        () => spark.sql(s"UPDATE $table SET source = '$src' WHERE doc_id = '$id'"),
        _ => source(i) = src, dir, 4L * nTok(i))
  }

  def finish(): Unit = {
    val got = digests(spark.table(table).as[SeqRow])
    val want = live.map(i => digest(row(i))).toArray.sorted
    check(java.util.Arrays.equals(got, want),
      s"serve: final table has ${got.length} rows, model has ${want.length}")
  }
  def tableDir: String = dir
  def report(lat: Map[String, Seq[Double]]): Seq[(String, Double, String)] = {
    val label = Map("rare" -> "contains_rare", "head" -> "contains_head").withDefault(identity)
    val p50 = kinds.map(k => s"${label(k)}_p50_ms" ->
      lat.get(k).filter(_.nonEmpty).map(Stats.median).getOrElse(Double.NaN))
    val reads = Reads.toSeq.flatMap(k => lat.getOrElse(k, Nil))
    val tail = Stats.tail(reads)
    p50.map { case (k, v) => (k, v, "ms") } ++ Seq(
      ("read_tail_ms", tail.map(_._1).getOrElse(Double.NaN), "ms"),
      ("read_tail_pct", tail.map(_._2).getOrElse(Double.NaN), "%"),
      ("read_samples", reads.length.toDouble, "count"),
      ("corpus_rows", corpusRows.toDouble, "rows"))
  }
}
