package graft.spark

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.{array_contains, col}

import graft.engine.{EncoderConfig, Lineage, SeqRow, TokenSketch}

/** A table whose manifests hold the exact token sketch as plain mode-1
  * base64 — the form the engine wrote before it packed sketches as mode 4
  * on disk — must answer rare-token probes with the same rows and plan the
  * same chunks as the packed table, on both manifest executors. */
class ManifestSketchCompatSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  // 3000 rows of zipf-skewed tokens over a 50k vocabulary; every 97th row
  // also holds one rare token 49000 + i/97
  private lazy val dir = {
    val rnd = new scala.util.Random(11)
    val rs = (0 until 3000).map { i =>
      val toks = Array.fill(12)((48000 * math.pow(rnd.nextDouble(), 3)).toInt) ++
        (if (i % 97 == 0) Array(49000 + i / 97) else Array.empty[Int])
      SeqRow(f"doc-$i%06d", toks, toks.length, "s")
    }
    val d = Files.createTempDirectory("graft-sketch-compat").toString
    import spark.implicits._
    Lineage.encodeToDir(spark.createDataset(rs), d,
      EncoderConfig(chunkTokens = 1 << 10, numPartitions = 3))
    d
  }

  private val b64 = "\"tok_set\":\"([^\"]*)\"".r

  /** A copy of `src` with every manifest's tok_set rewritten to mode-1
    * base64; returns (copy, number of lines that held a mode-4 sketch). */
  private def unpackedCopy(src: String): (String, Int) = {
    val dst = Files.createTempDirectory("graft-sketch-mode1")
    Files.walk(Paths.get(src)).iterator().asScala.foreach { p =>
      val t = dst.resolve(Paths.get(src).relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else if (!p.getFileName.toString.endsWith(".crc")) Files.copy(p, t)
    }
    var packed = 0
    Files.list(dst.resolve("_lineage")).iterator().asScala.toSeq
      .filter(_.getFileName.toString.matches("""part-\d+(\.g\d+)?\.json"""))
      .foreach { (p: Path) =>
        val lines = Files.readAllLines(p).asScala.filter(_.nonEmpty).map { l =>
          b64.replaceAllIn(l, m => {
            val disk = java.util.Base64.getDecoder.decode(m.group(1))
            if (disk.nonEmpty && disk(0) == 4) packed += 1
            val mode1 = java.util.Base64.getEncoder
              .encodeToString(TokenSketch.unpack(disk))
            scala.util.matching.Regex.quoteReplacement("\"tok_set\":\"" + mode1 + "\"")
          })
        }
        Files.write(p, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      }
    (dst.toString, packed)
  }

  private val Probes = Seq(49000, 49003, 49017, 49030, 47999)

  /** (doc_ids matched, chunks planned) per probe. */
  private def probe(d: String): Seq[(Seq[String], Int)] = Probes.map { t =>
    val ids = spark.read.format("graft").load(d)
      .filter(array_contains(col("tokens"), t))
      .select("doc_id").collect().map(_.getString(0)).sorted.toSeq
    val planned = GraftPlanning.prunedManifest(spark, Seq(d),
      Array.empty, Array(t)).length
    (ids, planned)
  }

  test("a table rewritten to mode-1 sketches answers and plans rare-token " +
      "probes exactly as before, on both executors") {
    val total = Lineage.readManifest(spark, dir).count().toInt
    val before = probe(dir)
    assert(before.take(4).forall(_._1.size == 1), s"rare probes: $before")
    assert(before.take(4).forall(_._2 < total / 4), s"rare probes must prune: $before")
    val (old, packed) = unpackedCopy(dir)
    assert(packed == total, s"$packed of $total manifest lines held a mode-4 sketch")
    assert(!Files.readAllLines(Paths.get(old, "_lineage", "part-00000.json"))
      .asScala.exists(l => b64.findFirstMatchIn(l).exists(m =>
        java.util.Base64.getDecoder.decode(m.group(1))(0) != 1)))
    assert(Lineage.readManifest(spark, old).collect().map(_.tok_set.toSeq).toSet ==
      Lineage.readManifest(spark, dir).collect().map(_.tok_set.toSeq).toSet)
    ManifestCache.clear()
    assert(probe(old) == before)
    spark.conf.set("graft.plan.localManifestBytes", "0")
    try {
      assert(probe(old) == before)
      assert(probe(dir) == before)
    } finally spark.conf.unset("graft.plan.localManifestBytes")
  }
}
