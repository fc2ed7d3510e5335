package graft.engine

import org.apache.spark.TaskContext
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

/** Table-level encode: Dataset[SeqRow] -> Dataset[EncodedChunk].
  *
  * Spark-first design (SURVEY.md §3 lifecycle mapping): the plan is
  * {scan -> hash repartition on doc_id -> sortWithinPartitions(source,
  * doc_id) -> mapPartitions chunk-encode}. Catalyst provides pushdown and
  * pruning on the scan; the single shuffle is the hash repartition on the
  * unique doc_id (uniform — the skewed `source`, 70% "web" in the corpus,
  * cannot hotspot a task), and the in-partition sort clusters each
  * partition's rows by source for dictionary/FSST locality. See arrange()
  * for why hash (not range) partitioning is required for resume.
  *
  * Chunk membership is a pure function of (data order, numPartitions), never
  * of task scheduling: rows are range-partitioned and sorted before slicing,
  * so encode at local[1] == encode at local[32] byte-for-byte (the reference's
  * threaded-decode equivalence, `ThreadDecoder.c:151-191`, recast).
  */
object Encoder {

  def encodeTable(ds: Dataset[SeqRow], cfg: EncoderConfig = EncoderConfig())
      : Dataset[EncodedChunk] = {
    val spark = ds.sparkSession
    import spark.implicits._
    arrange(ds, cfg).mapPartitions { it =>
      chunkIterator(it, TaskContext.getPartitionId(), cfg)
    }
  }

  /** Deterministic arrangement: hash-repartition on doc_id + in-partition
    * sort on (source, doc_id).
    *
    * Hash, not range: Spark's RangePartitioner samples with a seed derived
    * from the RDD id, so range boundaries differ run-to-run — fatal for
    * lineage resume (a resumed partition must hold exactly the rows the
    * failed run's partition held) and for golden manifest tests. Hash
    * partitioning is a pure function of the value. doc_id is unique, so the
    * hash is uniform and the skewed `source` (70% "web") cannot hotspot a
    * task — the salting the north rule asks for is inherent in keying by the
    * fine-grained column instead of the skewed one. The in-partition sort
    * still clusters each partition's rows by source for dictionary/FSST
    * locality; token blocks are row-aligned, so cross-row mixing costs ~0. */
  private[graft] def arrange(ds: Dataset[SeqRow], cfg: EncoderConfig)
      : Dataset[SeqRow] = {
    val parted =
      if (cfg.numPartitions > 0) ds.repartition(cfg.numPartitions, col("doc_id"))
      else ds
    parted.sortWithinPartitions(col("source"), col("doc_id"))
  }

  /** Partition slicer: pull rows into the ChunkSlicer until it is full,
    * emit a chunk. At most one partially-filled chunk per partition (the
    * tail). */
  private[graft] def chunkIterator(rows: Iterator[SeqRow], partId: Int,
                                    cfg: EncoderConfig): Iterator[EncodedChunk] =
    new Iterator[EncodedChunk] {
      // built once per task, not per chunk; self-contained chunks (no
      // shared meta dictionary)
      private val slicer = new ChunkSlicer(partId, cfg.chunkTokens, null)
      def hasNext: Boolean = rows.hasNext
      def next(): EncodedChunk = {
        while (rows.hasNext && !slicer.full) {
          val r = rows.next()
          require(r.n_tok == r.tokens.length,
            s"row ${r.doc_id}: n_tok ${r.n_tok} != tokens.length ${r.tokens.length}")
          slicer.add(r.doc_id, r.source, r.tokens)
        }
        slicer.take()
      }
    }

  /** Per-source/per-codec compression rollup. Aggregation is over the chunk
    * table (thousands of rows at 100 TB scale, not trillions) so a plain
    * groupBy is cheap; the heavy lifting happened map-side inside the chunks. */
  def report(chunks: Dataset[EncodedChunk]): Dataset[EncodeReport] = {
    val spark = chunks.sparkSession
    import spark.implicits._
    // exact per-source attribution from the chunk's side metadata only —
    // the token payload is never decoded for a report
    chunks.flatMap { c =>
      val bySource = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]
      ChunkBuilder.openMeta(c).foreach { case (source, nTok) =>
        val cur = bySource.getOrElse(source, (0L, 0L))
        bySource.update(source, (cur._1 + 1L, cur._2 + nTok))
      }
      val codecName = graft.codec.CodecId.name(c.codec.toByte)
      bySource.iterator.map { case (src, (nr, nt)) =>
        // attribute chunk bytes proportionally to token share
        val share = if (c.n_tokens == 0) 0.0 else nt.toDouble / c.n_tokens
        EncodeReport(src, codecName, 1L, nr, nt,
          math.round(c.raw_bytes * share), math.round(c.enc_bytes * share))
      }
    }.groupBy("source", "codec_name")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum("n_rows").as("n_rows"),
        sum("n_tokens").as("n_tokens"),
        sum("raw_bytes").as("raw_bytes"),
        sum("enc_bytes").as("enc_bytes"))
      .as[EncodeReport]
  }
}

/** Table-level decode: Dataset[EncodedChunk] -> Dataset[SeqRow].
  * One chunk = one unit of work; Spark schedules chunks across executor
  * threads — the engine's answer to the reference's dedicated decoder pthread
  * (`/root/reference/src/lib/buffer/ThreadDecoder.c:98-149`). */
object Decoder {
  /** Decode self-contained chunks (Encoder.encodeTable output). A chunk
    * coded against a table's shared meta dictionary fails TYPED and loud
    * here; such tables are read through the `format("graft")` source. */
  def decodeTable(chunks: Dataset[EncodedChunk]): Dataset[SeqRow] = {
    val spark = chunks.sparkSession
    import spark.implicits._
    chunks.flatMap(c => ChunkBuilder.open(c))
  }

  /** Decode with verification against the source table; returns mismatched
    * doc_ids (empty = faithful). Each side is reduced map-side to
    * (doc_id, 64-bit content hash over n_tok + tokens + source) BEFORE the
    * join, so the shuffle moves 16-byte rows instead of token arrays — at
    * 10^12 sequences that's the difference between shuffling ~100 TB twice
    * and shuffling ~30 TB of ids+hashes. Hash equality stands in for
    * bit-identity (2^-64 collision odds per row); the test suite separately
    * asserts element-wise equality on collected samples. */
  def verifyAgainst(chunks: Dataset[EncodedChunk], original: Dataset[SeqRow])
      : Dataset[String] = {
    val spark = chunks.sparkSession
    import spark.implicits._
    def digest(ds: Dataset[SeqRow]): Dataset[(String, Long)] =
      ds.map(r => (r.doc_id, ContentKey.of(r)))
    val d = digest(decodeTable(chunks)).toDF("doc_id", "d_hash")
    val o = digest(original).toDF("doc_id", "o_hash")
    d.join(o, Seq("doc_id"), "full_outer")
      .filter(col("d_hash").isNull || col("o_hash").isNull ||
        col("d_hash") =!= col("o_hash"))
      .select(col("doc_id")).as[String]
  }
}

/** 64-bit content key over (n_tok, tokens, source) — FNV-1a,
  * deterministic: the row digest of `Decoder.verifyAgainst` and the state
  * key of the streaming dedup guards. */
object ContentKey {
  def of(r: SeqRow): Long = {
    var h = 0xcbf29ce484222325L
    h = (h ^ r.n_tok) * 1099511628211L
    var i = 0
    while (i < r.tokens.length) { h = (h ^ r.tokens(i)) * 1099511628211L; i += 1 }
    var c = 0
    while (c < r.source.length) { h = (h ^ r.source.charAt(c)) * 1099511628211L; c += 1 }
    h
  }
}
