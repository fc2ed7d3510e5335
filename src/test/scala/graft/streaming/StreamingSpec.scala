package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.SparkTestSession
import graft.engine._
import graft.io.Corpus
import java.nio.file.Files

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("streaming encode: micro-batches -> lineage dirs -> decode equals input") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[SeqRow]
    val dir = Files.createTempDirectory("graft-stream").toString
    val ckpt = Files.createTempDirectory("graft-stream-ckpt").toString
    val rows = (0L until 300L).map(i => Corpus.row(42L, i))
    // AvailableNow only drains data present at start()
    input.addData(rows.take(150))
    input.addData(rows.drop(150))
    val q = input.toDS().toDF()
      .writeStream.format("graft")
      .option("checkpointLocation", ckpt)
      .option("chunkTokens", "8192")
      .trigger(Trigger.AvailableNow())
      .start(dir)
    q.awaitTermination(120000)
    // decode every batch dir and compare to the union of inputs
    val batchDirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
    assert(batchDirs.nonEmpty)
    val decoded = batchDirs.flatMap(d =>
      spark.read.format("graft").load(d.toString).as[SeqRow].collect())
      .map(r => r.doc_id -> r).toMap
    assert(decoded.size == 300)
    rows.foreach { r =>
      assert(decoded(r.doc_id).tokens.sameElements(r.tokens), r.doc_id)
    }
  }

  test("stateful streaming dedup drops duplicates across micro-batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[SeqRow]
    val rows = (0L until 60L).map(i => Corpus.row(42L, i))
    input.addData(rows.take(40))                      // batch 1
    input.addData(rows.drop(20) ++ rows.take(5))      // batch 2 overlaps both ends
    val q = StreamingEncoder.dedupStream(input.toDS())
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val out = spark.table("dedup_stream").collect()
    assert(out.length == 60, s"expected 60 unique rows, got ${out.length}")
    assert(out.map(_.getString(0)).distinct.length == 60)
  }

  test("dedup TTL: keyed state expires, late duplicates pass as new") {
    // AvailableNow runs with a shared checkpoint: each phase drains what is
    // queued and stops (a continuously-triggered query with processing-time
    // timeouts re-batches on every deadline, which starves
    // processAllAvailable). State persists across restarts via the
    // checkpoint; expired keys are evicted by the next phase's batches.
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft-ttl-ckpt").toString
    val input = MemoryStream[SeqRow] // ONE source: offsets span all phases
    val a = (0L until 10L).map(i => Corpus.row(42L, i))
    val b = Seq(Corpus.row(42L, 100L))
    // each phase drains newly-queued data and stops; the sink is
    // foreachBatch (the memory sink refuses checkpoint recovery) collecting
    // into a driver buffer, and the return value is the rows THIS phase let
    // through
    val sunk = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def phase(data: Seq[SeqRow]): Seq[String] = {
      val before = sunk.size()
      input.addData(data)
      val q = StreamingEncoder.dedupStreamTtl(input.toDS(), "50 milliseconds")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[SeqRow], _: Long) =>
          batch.collect().foreach(r => sunk.add(r.doc_id)); ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      // AvailableNow + processing-time timeouts can keep scheduling no-data
      // batches for pending deadlines after the data drained (and
      // processAllAvailable never sees a quiescent moment) — poll progress
      // until the data batch committed, then stop the query explicitly
      val deadline = System.currentTimeMillis + 60000
      while (System.currentTimeMillis < deadline &&
             q.recentProgress.map(_.numInputRows).sum < data.length)
        Thread.sleep(100)
      q.stop()
      q.awaitTermination(120000)
      import scala.jdk.CollectionConverters._
      sunk.iterator().asScala.toSeq.drop(before)
    }
    assert(phase(a ++ a.take(3)).length == 10) // within-batch dups suppressed
    Thread.sleep(300) // let the 50ms TTL lapse in wall clock
    // this phase carries unrelated data; its batch evicts the expired keys
    assert(phase(b).length == 1)
    val third = phase(a.take(5)) // same contents, state expired -> pass again
    assert(third.length == 5, s"expected expired keys to pass: $third")
    assert(third.contains(a.head.doc_id))
  }

  test("watermarked windowed aggregation over a rate-like stream") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Int)]
    val agg = StreamingEncoder.tokenRateByWindow(
      input.toDS().toDF().toDF("ts", "source", "n_tok"))
    val base = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    def at(min: Int) = new java.sql.Timestamp(base.getTime + min * 60000L)
    input.addData(Seq((at(0), "web", 100), (at(0), "web", 50),
      (at(1), "books", 70), (at(30), "web", 10)))
    // complete mode: all windows visible without needing a later batch to
    // advance the watermark past them
    val q = agg.writeStream.format("memory").queryName("token_rate")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val out = spark.table("token_rate").collect()
    assert(out.exists(r => r.getString(1) == "web" && r.getLong(3) == 150L),
      out.mkString("; "))
  }
}
