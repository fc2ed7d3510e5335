package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{EqualTo, Filter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.codec.{BlockCodec, ChunkStats, CodecId, Fsst, Huffman, TokenCodec}
import graft.engine.{ChunkBuilder, Encoder, EncoderConfig, Lineage, MetaDict}
import graft.io.Corpus
import graft.spark.{GraftBucketedInputPartition, GraftInputPartition, GraftTable}

/** Layer probes of the traced run: each layer's public functions called
  * directly on the workload's own table and corpus, one span per call. */
object Layers {
  /** Codec names as `CodecId.name` gives them. */
  val Schemes: Seq[String] = Seq("raw", "bitpack", "rle", "dict", "delta", "blocks", "varint", "hpack")
  private val Flat: Seq[(String, Byte)] = Seq("bitpack" -> CodecId.BitPack,
    "rle" -> CodecId.Rle, "dict" -> CodecId.Dict, "delta" -> CodecId.Delta,
    "varint" -> CodecId.VarInt)
  /** Token budget of the chunk sample the kernel probes run on. */
  private val SampleTokens = 2000000L
  private val Reps = 3
  val ProbeOp = -2

  /** Work per second of `f`: the median of `Reps` timed calls after one
    * untimed call, each recorded as a span. */
  private def rate(t: Tracer, name: String, layer: String, work: Double)(f: => Unit): Double = {
    f
    Stats.median((0 until Reps).map { _ =>
      val t0 = System.nanoTime()
      t.span(name, layer, ProbeOp)(f)
      work / ((System.nanoTime() - t0) / 1e9)
    })
  }
  private def millis(t: Tracer, name: String, layer: String)(f: => Unit): Double =
    1000.0 / rate(t, name, layer, 1.0)(f)

  private final case class Planned(parts: Array[InputPartition], factory: PartitionReaderFactory) {
    def chunks: Array[Lineage.ManifestRow] = parts.flatMap {
      case g: GraftInputPartition => g.rows
      case b: GraftBucketedInputPartition => b.p.rows
    }
  }

  /** The DSv2 planning calls Spark makes for a read: newScanBuilder,
    * pushFilters, pruneColumns, build, planInputPartitions. */
  private def plan(dir: String, opts: Map[String, String], filters: Array[Filter],
                   required: StructType): Planned = {
    val sb = new GraftTable(dir).newScanBuilder(new CaseInsensitiveStringMap(opts.asJava))
    sb.asInstanceOf[SupportsPushDownFilters].pushFilters(filters)
    sb.asInstanceOf[SupportsPushDownRequiredColumns].pruneColumns(required)
    val batch = sb.build().toBatch
    Planned(batch.planInputPartitions(), batch.createReaderFactory())
  }

  /** Reads the planned partitions with the columnar reader on this thread;
    * returns (rows, tokens) produced, stopping after `tokenCap` tokens.
    * `tokCol` is the ordinal of `tokens` in the required schema. */
  private def read(p: Planned, tokCol: Int, tokenCap: Long): (Long, Long) = {
    var rows = 0L; var toks = 0L
    val it = p.parts.iterator
    while (it.hasNext && toks < tokenCap) {
      val r = p.factory.createColumnarReader(it.next())
      try {
        while (r.next()) {
          val b = r.get()
          rows += b.numRows()
          val col = b.column(tokCol)
          var i = 0
          while (i < b.numRows()) { toks += col.getArray(i).numElements(); i += 1 }
        }
      } finally r.close()
    }
    (rows, toks)
  }

  /** The `k` tokens that occur in the fewest rows of the first `n` rows. */
  def rarestTokens(seed: Long, n: Int, k: Int, exclude: Int): Array[Int] = {
    val df = new Array[Int](Corpus.V)
    val last = Array.fill(Corpus.V)(-1)
    for (i <- 0 until n) {
      Corpus.row(seed, i).tokens.foreach(t => if (last(t) != i) { last(t) = i; df(t) += 1 })
    }
    (0 until Corpus.V).filter(t => df(t) > 0 && t != exclude)
      .sortBy(t => (df(t), t)).take(k).toArray
  }

  /** The read shapes the planning probe replays: a full read of `tokens`,
    * a point lookup of row n/2, the rarest-token probe and the head-token
    * (0) probe. */
  private def readShapes(seed: Long, w: Workload)
      : Seq[(String, Map[String, String], Array[Filter], StructType)] = {
    val full = GraftTable.Schema
    Seq(
      ("full", Map.empty, Array.empty, StructType(full.filter(_.name == "tokens"))),
      ("point", Map.empty, Array(EqualTo("doc_id", Corpus.row(seed, w.corpusRows / 2).doc_id)), full),
      ("rare", Map("containsToken" -> w.rareToken.toString), Array.empty, full),
      ("head", Map("containsToken" -> "0"), Array.empty, full))
  }

  /** The read shapes pruning can act on. `full` has no filter and zipf
    * token 0 is in every chunk, so those two plan every chunk. */
  private val Pruned = Set("point", "rare")

  /** Chunks planned per prunable read shape on the table in `dir`; with
    * the table as set up these repeat exactly for one seed. */
  def planCounts(ctx: Ctx, w: Workload, dir: String): Map[String, Double] = {
    val total = Workload.manifest(ctx.spark, dir).length.toDouble
    Map("spark.plan.chunks_total" -> total) ++ readShapes(ctx.seed, w).filter(s => Pruned(s._1)).flatMap {
      case (name, o, f, r) =>
        val n = plan(dir, o, f, r).chunks.length.toDouble
        Seq(s"spark.plan.chunks_planned.$name" -> n, s"spark.plan.prune_frac.$name" -> (1.0 - n / total))
    }
  }

  def probe(ctx: Ctx, w: Workload, t: Tracer): Map[String, Double] = {
    val spark = ctx.spark
    val dir = w.tableDir
    val conf = spark.sparkContext.hadoopConfiguration
    val out = Map.newBuilder[String, Double]

    // ---- lineage: manifest and chunk reads
    val man = t.span("lineage.read_manifest", "lineage", ProbeOp)(Workload.manifest(spark, dir))
    out += "lineage.read_manifest.ms" -> millis(t, "lineage.read_manifest", "lineage") {
      Workload.manifest(spark, dir): Unit
    }
    val step = math.max(1, man.length / 24)
    val sample = {
      val evenly = man.indices.by(step).map(man(_))
      var toks = 0L
      evenly.takeWhile { m => toks += m.n_tokens; toks - m.n_tokens < SampleTokens }.toArray
    }
    val dict = Lineage.sharedDictBytes(spark, dir).map(MetaDict.fromBytes).orNull
    val sampleBytes = sample.map(_.length).sum.toDouble
    out += "lineage.read_chunk.mb_s" -> rate(t, "lineage.read_chunk", "lineage", sampleBytes / 1e6) {
      sample.foreach(m => Lineage.readChunk(conf, dir, m))
    }
    val chunks = sample.map(m => Lineage.readChunk(conf, dir, m))
    val sampleToks = chunks.map(_.n_tokens).sum.toDouble
    val sampleRows = chunks.map(_.n_rows.toLong).sum.toDouble

    // ---- engine.ChunkBuilder
    out += "chunkbuilder.open_tokens.mtok_s" -> rate(t, "chunkbuilder.open_tokens",
      "chunkbuilder", sampleToks / 1e6) {
      chunks.foreach(c => ChunkBuilder.openColumns(c, dict, withTokens = true, withDocIds = true))
    }
    out += "chunkbuilder.open_meta.rows_s" -> rate(t, "chunkbuilder.open_meta",
      "chunkbuilder", sampleRows) {
      chunks.foreach(c => ChunkBuilder.openColumns(c, dict, withTokens = false, withDocIds = true))
    }
    val cols = chunks.map(c => ChunkBuilder.openColumns(c, dict, withTokens = true, withDocIds = true))
    val docIds = cols.map(_.docIds.toStrings)
    out += "chunkbuilder.build.mtok_s" -> rate(t, "chunkbuilder.build", "chunkbuilder",
      sampleToks / 1e6) {
      cols.zip(chunks).zip(docIds).foreach { case ((c, ch), ids) =>
        ChunkBuilder.build(ch.part_id, ch.seq, ids, c.srcIdx.map(c.srcDict(_)), c.tokens,
          c.rowLens, dict)
      }
    }

    // ---- codec kernels, on the sample's own token vectors
    val mtok = sampleToks / 1e6
    out += "codec.decode.mtok_s" -> rate(t, "codec.decode", "codec", mtok) {
      chunks.foreach(c => TokenCodec.decodeOrThrow(c.payload))
    }
    out += "codec.encode_auto.mtok_s" -> rate(t, "codec.encode_auto", "codec", mtok) {
      cols.foreach(c => TokenCodec.encodeAuto(c.tokens, c.rowLens))
    }
    out += "codec.select.mtok_s" -> rate(t, "codec.select", "codec", mtok) {
      cols.foreach(c => ChunkStats.analyze(c.tokens))
    }
    val stats = cols.map(c => ChunkStats.analyze(c.tokens))
    for ((name, id) <- Flat) {
      out += s"codec.$name.encode_mtok_s" -> rate(t, s"codec.$name.encode", "codec", mtok) {
        cols.zip(stats).foreach { case (c, s) => TokenCodec.encode(id, c.tokens, s) }
      }
      val frames = cols.zip(stats).map { case (c, s) => TokenCodec.encode(id, c.tokens, s) }
      out += s"codec.$name.decode_mtok_s" -> rate(t, s"codec.$name.decode", "codec", mtok) {
        frames.foreach(TokenCodec.decodeOrThrow)
      }
    }
    out += "codec.blocks.encode_mtok_s" -> rate(t, "codec.blocks.encode", "codec", mtok) {
      cols.foreach(c => BlockCodec.encode(c.tokens, BlockCodec.rowSplits(c.rowLens)))
    }
    val blocks = cols.map(c => BlockCodec.encode(c.tokens, BlockCodec.rowSplits(c.rowLens)))
    out += "codec.blocks.decode_mtok_s" -> rate(t, "codec.blocks.decode", "codec", mtok) {
      blocks.zip(cols).foreach { case (b, c) =>
        BlockCodec.decode(b, 0, b.length, c.tokens.length, new Array[Int](c.tokens.length))
      }
    }
    val inner = cols.zip(stats).map { case (c, s) => TokenCodec.encode(s.bestCodec, c.tokens, s) }
    out += "codec.hpack.encode_mtok_s" -> rate(t, "codec.hpack.encode", "codec", mtok) {
      inner.foreach(Huffman.encode)
    }
    val packed = inner.map(Huffman.encode)
    out += "codec.hpack.decode_mtok_s" -> rate(t, "codec.hpack.decode", "codec", mtok) {
      packed.foreach(p => Huffman.decode(p, 0, p.length))
    }
    val idBlobs = docIds.map(ChunkBuilder.packStringsFront)
    val idMb = idBlobs.map(_.length).sum / 1e6
    out += "codec.fsst.encode_mb_s" -> rate(t, "codec.fsst.encode", "codec", idMb) {
      idBlobs.foreach(Fsst.encode)
    }
    val fsst = idBlobs.map(Fsst.encode)
    out += "codec.fsst.decode_mb_s" -> rate(t, "codec.fsst.decode", "codec", idMb) {
      fsst.foreach(Fsst.decode)
    }

    // ---- engine.Encoder: the encode job without the write
    val encRows = math.min(w.corpusRows, 20000)
    val corpus = Corpus.table(spark, encRows, ctx.seed, partitions = 8).cache()
    val corpusToks = Workload.nTokens(corpus).toDouble
    import spark.implicits._
    out += "encoder.encode_table.tok_s" -> rate(t, "encoder.encode_table", "encoder", corpusToks) {
      Encoder.encodeTable(corpus, EncoderConfig(numPartitions = 8)).map(_.enc_bytes).reduce(_ + _): Unit
    }
    corpus.unpersist(blocking = true)

    // ---- spark: DSv2 planning replayed for each read shape, then the
    // columnar reader over the planned partitions
    val shapes = readShapes(ctx.seed, w)
    val planMs = shapes.map { case (name, o, f, r) =>
      millis(t, s"spark.plan.$name", "spark")(plan(dir, o, f, r): Unit)
    }
    out += "spark.plan.ms" -> Stats.median(planMs)
    // chunk counts as of set-up, where they repeat exactly; chunks_total
    // and the chunk shares are counts without a better direction, so they
    // stay in the report and the span file
    out ++= w.counts.filter(c => c._1.startsWith("spark.plan.") && c._1 != "spark.plan.chunks_total")
    val planned = shapes.map { case (name, o, f, r) => name -> plan(dir, o, f, r) }.toMap
    val cap = 4000000L
    val fullToks = read(planned("full"), 0, cap)._2.toDouble
    out += "spark.read.decode_mtok_s" -> rate(t, "spark.read", "spark", fullToks / 1e6) {
      read(planned("full"), 0, cap): Unit
    }
    val rare = planned("rare")
    val (matched, _) = t.span("spark.read.rare", "spark", ProbeOp)(
      read(rare, GraftTable.Schema.fieldIndex("tokens"), Long.MaxValue))
    out += "spark.read.rows_matched_per_row_decoded" ->
      matched.toDouble / math.max(1L, rare.chunks.map(_.n_rows.toLong).sum)
    out.result()
  }
}
