package graft

import graft.engine._
import graft.io.Corpus

/** Manual verification driver: full corpus->encode->decode->verify flow on a
  * real local Spark session. Run: sbt "Test/runMain graft.DriveEngine" */
object DriveEngine {
  def main(args: Array[String]): Unit = {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val n = args.headOption.map(_.toLong).getOrElse(5000L)
    val ds = Corpus.table(spark, n, partitions = 8)
    val chunks = Encoder.encodeTable(ds,
      EncoderConfig(chunkTokens = 1 << 16, numPartitions = 8)).cache()
    val nChunks = chunks.count()
    val raw = chunks.agg(org.apache.spark.sql.functions.sum("raw_bytes")).as[Long].first()
    val enc = chunks.agg(org.apache.spark.sql.functions.sum("enc_bytes")).as[Long].first()
    println(s"DRIVE1 rows=$n chunks=$nChunks raw=$raw enc=$enc ratio=${enc.toDouble / raw}")
    val mismatches = Decoder.verifyAgainst(chunks, ds).count()
    println(s"DRIVE2 mismatches=$mismatches")
    val rep = Encoder.report(chunks).collect()
    println(s"DRIVE3 report=${rep.map(r => s"${r.source}/${r.codec_name}:${r.n_rows}").sorted.mkString(",")}")
    // probe: a row violating the n_tok invariant must fail loudly, not corrupt
    try {
      val bad = spark.createDataset(Seq(SeqRow("doc-bad", Array(1, 2, 3), 99, "web")))
      Encoder.encodeTable(bad, EncoderConfig(numPartitions = 1)).collect()
      println("DRIVE4 invariant-violation=NOT-CAUGHT")
    } catch {
      case e: Throwable => println(s"DRIVE4 invariant-violation=caught(${e.getClass.getSimpleName})")
    }
    chunks.unpersist()
    // lineage: encode to dir, kill one partition's state, resume
    val dir = java.nio.file.Files.createTempDirectory("drive-lineage").toString
    val cfg = EncoderConfig(chunkTokens = 1 << 16, numPartitions = 8)
    val first = Lineage.encodeToDir(ds, dir, cfg)
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "_lineage", "part-00003.json"))
    val resumed = Lineage.encodeToDir(ds, dir, cfg)
    val rows = spark.read.format("graft").load(dir)
      .select("doc_id", "tokens").queryExecution.toRdd.count()
    println(s"DRIVE5 lineage first=$first resumed=$resumed decodedRows=$rows")
    spark.stop()
  }
}
