package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{Encoder, EncoderConfig, SeqRow}

/** A row whose `n_tok` disagrees with its token array is refused loudly by
  * both writers — the engine's table encoder and the DSv2 sink — instead of
  * being encoded into a chunk whose row lengths lie about its payload. */
class GraftNTokInvariantSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark
  private val bad = SeqRow("doc-bad", Array(1, 2, 3), 99, "web")
  private val want = "row doc-bad: n_tok 99 != tokens.length 3"

  private def messages(t: Throwable): Iterator[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage))

  test("Encoder.encodeTable fails on a row with n_tok != tokens.length") {
    import spark.implicits._
    val e = intercept[Exception] {
      Encoder.encodeTable(spark.createDataset(Seq(bad)),
        EncoderConfig(numPartitions = 1)).collect()
    }
    assert(messages(e).exists(_.contains(want)), messages(e).mkString(" | "))
  }

  test("the graft sink fails on a row with n_tok != tokens.length and " +
      "commits nothing") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-ntok").toString
    val e = intercept[Exception] {
      spark.createDataset(Seq(bad)).toDF().coalesce(1)
        .write.format("graft").mode("append").save(out)
    }
    assert(messages(e).exists(_.contains(want)), messages(e).mkString(" | "))
    val lin = new java.io.File(out, "_lineage")
    val committed = Option(lin.list()).toSeq.flatten.filter(_.endsWith(".json"))
    assert(committed.isEmpty, s"an aborted write committed $committed")
  }
}
