package graft.engine

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.util.SerializableConfiguration

/** Checkpointed per-partition encode with resume — the engine's recast of the
  * reference's suspended-decoder resumability (the parked worker thread
  * holding coder state across API calls, `ThreadDecoder.c:65-191`, and
  * unconsumed-input accounting, `_ppmdmodule.c:424-501`): instead of
  * suspending a thread, we persist a per-partition manifest atomically and
  * let a re-run skip completed partitions.
  *
  * Layout under `dir` (any Hadoop FileSystem — local fs here, HDFS/S3A on a
  * real cluster):
  *   data/part-NNNNN.graft      framed chunks, concatenated:
  *                              [varint payloadLen][payload][varint metaLen][meta]*
  *   _lineage/part-NNNNN.json   manifest: one flat JSON line per chunk
  *                              (chunk_id codec n_rows n_tokens raw_bytes
  *                               enc_bytes crc32 offset length min/max tok,
  *                               tok_set and src_stats as base64, gen,
  *                               min/max doc_id); tok_set holds the sketch
  *                               in its on-disk form (TokenSketch.pack:
  *                               an exact bitmap Huffman-coded as mode 4),
  *                               and the parse turns it back into mode 1
  *
  * Atomicity: data + manifest are written to `.inprogress` names and renamed;
  * the manifest rename is the commit point (rename is atomic on HDFS and
  * POSIX). A partition is "done" iff its manifest exists, so a task killed
  * mid-write leaves no visible state and re-runs from scratch — per-chunk
  * CRCs guard the read side.
  *
  * One batch writer: the DSv2 sink (`format("graft")`, GraftDataWriter)
  * writes every partition through PartitionCommitter, and `encodeToDir` is
  * that sink's arranged resume write. A partition that receives no row
  * writes no file at all.
  */
object Lineage {

  final case class ManifestRow(
      part_id: Int, seq: Int, chunk_id: Long, codec: Int, n_rows: Int,
      n_tokens: Long, raw_bytes: Long, enc_bytes: Long, crc32: Long,
      offset: Long, length: Long, min_doc_id: String, max_doc_id: String,
      min_tok: Int, max_tok: Int, tok_set: Array[Byte],
      // SrcStats blob: per-source (rows, tokens) of this chunk, for
      // manifest-only GROUP BY source. Empty on pre-upgrade manifests —
      // readers fall back to a meta read for such chunks (fail open)
      src_stats: Array[Byte] = Array.emptyByteArray,
      // partition REWRITE generation (copy-on-write DELETE): gen 0 lives in
      // part-N.{json,graft}, gen k>0 in part-N.gk.{json,graft}. Readers pick
      // the highest committed gen per partition; pre-gen manifests parse as 0
      gen: Int = 0)

  private def pn(pid: Int): String = f"part-$pid%05d"
  private def genSfx(gen: Int): String = if (gen == 0) "" else s".g$gen"
  private[engine] def manifestPath(dir: String, pid: Int, gen: Int): Path =
    new Path(s"$dir/_lineage/${pn(pid)}${genSfx(gen)}.json")
  private[engine] def dataPath(dir: String, pid: Int, gen: Int): Path =
    new Path(s"$dir/data/${pn(pid)}${genSfx(gen)}.graft")
  // part-NNNNN[.gK].json -> (pid, gen)
  private val ManifestName = """part-(\d+)(?:\.g(\d+))?\.json""".r
  /** Parse a manifest file name to (part id, generation); None for foreign
    * names. Shared with the DSv2 sink's append part-id offsetting. */
  def manifestPidGen(name: String): Option[(Int, Int)] = name match {
    case ManifestName(p, g) =>
      Some((p.toInt, Option(g).map(_.toInt).getOrElse(0)))
    case _ => None
  }

  /** Encode `ds` into `dir`: the DSv2 sink's arranged resume write.
    * `option("arrange", n)` makes Spark hash-cluster the rows by doc_id into
    * exactly `cfg.numPartitions` partitions, sorted (source, doc_id) within
    * each; `option("resume", true)` keeps the partition ids and skips every
    * committed partition. Returns the number of partitions this run
    * committed. */
  def encodeToDir(ds: Dataset[SeqRow], dir: String,
                  cfg: EncoderConfig = EncoderConfig()): Long = {
    // Resume is only sound when partition membership is a pure function of
    // the data: a re-run must rebuild EXACTLY the rows a completed
    // partition held. The arranged write's hash clustering is such a
    // function; 0 partitions would inherit whatever upstream partitioning
    // the first run happened to have.
    require(cfg.numPartitions > 0,
      "Lineage.encodeToDir needs an explicit numPartitions (deterministic " +
        "partitioning is what makes resume sound)")
    val spark = ds.sparkSession
    requireNotBatchTree(spark, dir) // before anything is created under dir
    val fs = EngineFs.get(dir, spark.sparkContext.hadoopConfiguration)
    // A gen>0 manifest counts as committed, exactly like
    // PartitionCommitter.alreadyDone: a DELETE-rewritten partition must
    // never be re-encoded.
    def committedPids(): Set[Int] =
      try committedPidGens(fs, dir).iterator.map(_._1).toSet
      catch { case _: java.io.FileNotFoundException => Set.empty }
    val before = committedPids()
    // RESUME SHORT-CIRCUIT: when every partition of the arrangement is
    // already committed, the write is a provable no-op; answer from the
    // listing instead of scheduling a full regenerate+shuffle of the data.
    if ((0 until cfg.numPartitions).forall(before.contains)) return 0L
    // One shared meta dictionary per TABLE dir (trained on the first run,
    // read back on every later one); the sink honours the published one.
    sharedDictFor(ds, fs, dir)
    ds.write.format("graft").mode("append")
      .option("arrange", cfg.numPartitions.toLong).option("resume", true)
      .option("chunkTokens", cfg.chunkTokens.toLong).save(dir)
    (committedPids() -- before).size.toLong
  }

  /** The per-partition atomic data+manifest commit protocol of the DSv2
    * sink's writer (GraftDataWriter) — exactly ONE copy of the delicate
    * dance. Temp names carry the task attempt id so speculative/zombie
    * attempts never interleave writes into one temp file; the manifest
    * rename is the commit point; a loser discards its temp and walks away.
    * Usage: check alreadyDone, add() every chunk, then commit() exactly
    * once (or abort() on failure); a partition that added no chunk is
    * never committed. */
  private[graft] final class PartitionCommitter(fs: FileSystem, dir: String,
                                                pid: Int, attempt: Long) {
    private val manifest = new Path(s"$dir/_lineage/${pn(pid)}.json")
    private val dataTmp =
      new Path(s"$dir/data/${pn(pid)}.graft.inprogress-$attempt")
    private val dataFinal = new Path(s"$dir/data/${pn(pid)}.graft")
    private val appender = new ChunkAppender(fs, dataTmp)

    // a DELETE-rewritten partition lives at gen>0 (part-N.gK.json) — it is
    // every bit as committed as gen 0, and a resume that missed it would
    // re-add rows the delete removed (plus duplicate the survivors)
    def alreadyDone: Boolean = fs.exists(manifest) ||
      fs.globStatus(new Path(s"$dir/_lineage/${pn(pid)}.g*.json")).nonEmpty

    def add(c: EncodedChunk): Unit = appender.add(c)

    def abort(): Unit = {
      appender.close()
      fs.delete(dataTmp, false): Unit
    }

    /** Returns true iff THIS attempt committed the manifest. */
    def commit(): Boolean = {
      appender.close()
      // Re-check the commit point IMMEDIATELY before touching dataFinal: a
      // losing speculative/zombie attempt that passed the entry check may
      // only reach here after the winner committed data+manifest — deleting
      // the committed data file would strand a manifest pointing at
      // nothing. The loser discards its own temp and walks away.
      if (fs.exists(manifest)) {
        fs.delete(dataTmp, false): Unit
        return false
      }
      val finalLen =
        if (fs.exists(dataFinal)) fs.getFileStatus(dataFinal).getLen else -1L
      if (finalLen == appender.length && sameBytes(fs, dataFinal, dataTmp)) {
        // A byte-identical data file is already in place (VERIFIED by
        // content compare, not length alone — an orphan from a run with a
        // different chunking could coincide on length): encode is
        // deterministic, so this is a concurrent winner's (or a dead
        // identical run's) output. NEVER delete it — the delete was the one
        // step that could strand a concurrently committed manifest if this
        // attempt dies mid-swap; reuse needs no rename at all.
        fs.delete(dataTmp, false): Unit
      } else {
        // ChecksumFileSystem/HDFS rename does NOT overwrite: clear
        // leftovers from a run that died between data-rename and
        // manifest-commit (length mismatch => partial-config orphan,
        // never a commit-complete file).
        if (finalLen >= 0) fs.delete(dataFinal, false)
        if (!fs.rename(dataTmp, dataFinal))
          throw new java.io.IOException(s"rename failed: $dataTmp -> $dataFinal")
      }
      // Re-check once more before the manifest commit: the winner may have
      // committed while this attempt handled the data file. Rename
      // no-overwrite is the final fence — losing it to an existing manifest
      // is a benign outcome, not an error.
      if (fs.exists(manifest)) {
        false // committed by another attempt; identical bytes already live
      } else {
        val mTmp = new Path(s"$dir/_lineage/${pn(pid)}.json.inprogress-$attempt")
        writeManifest(fs, mTmp, appender.rows)
        if (!fs.rename(mTmp, manifest)) { // commit point
          if (fs.exists(manifest)) { fs.delete(mTmp, false): Unit; false }
          else throw new java.io.IOException(s"rename failed: $mTmp -> $manifest")
        } else true
      }
    }
  }

  /** Frames chunks into ONE data file and builds each chunk's manifest row
    * at its running offset — the append step PartitionCommitter and
    * GroupStager (and through it the DELETE rewrite) share. The file is
    * created on the first append. */
  private final class ChunkAppender(fs: FileSystem, path: Path) {
    val rows = new scala.collection.mutable.ArrayBuffer[ManifestRow]()
    private var offset = 0L
    private var out: org.apache.hadoop.fs.FSDataOutputStream = _

    /** Bytes appended so far. */
    def length: Long = offset

    def add(c: EncodedChunk): Unit = {
      val rec = frameChunk(c)
      write(rec, ManifestRow(c.part_id, c.seq, c.chunk_id, c.codec, c.n_rows,
        c.n_tokens, c.raw_bytes, c.enc_bytes, c.crc32, offset,
        rec.length.toLong, c.min_doc_id, c.max_doc_id, c.min_tok,
        c.max_tok, c.tok_set, c.src_stats))
    }

    /** Append an already-framed chunk verbatim; `m` is its manifest row. */
    def addFrame(frame: Array[Byte], m: ManifestRow): Unit =
      write(frame, m.copy(offset = offset))

    private def write(frame: Array[Byte], row: ManifestRow): Unit = {
      if (out == null) out = fs.create(path, true)
      out.write(frame)
      rows += row
      offset += frame.length
    }

    def close(): Unit = if (out != null) out.close()
  }

  /** Write a manifest file at `p`: one JSON line per chunk. */
  private def writeManifest(fs: FileSystem, p: Path,
                            rows: Iterable[ManifestRow]): Unit = {
    val out = fs.create(p, true)
    rows.foreach(r => out.write((manifestJson(r) + "\n").getBytes("UTF-8")))
    out.close()
  }

  /** Streaming byte-equality of two files (1 MB buffers). Only consulted in
    * the rare reuse branch (a complete same-length final file already
    * exists), where one read of the partition pays for never deleting a
    * concurrent winner's committed bytes. */
  private def sameBytes(fs: FileSystem, a: Path, b: Path): Boolean = {
    val ia = fs.open(a)
    val ib = fs.open(b)
    try {
      val ba = new Array[Byte](1 << 20)
      val bb = new Array[Byte](1 << 20)
      var same = true
      var eof = false
      while (same && !eof) {
        val na = ia.read(ba)
        var nb = 0
        while (nb < na) { // match read sizes (short reads allowed)
          val m = ib.read(bb, nb, na - nb)
          if (m < 0) return false
          nb += m
        }
        if (na < 0) eof = ib.read(bb) < 0
        else same = java.util.Arrays.equals(ba, 0, na, bb, 0, na)
      }
      same
    } catch { case _: java.io.IOException => false }
    finally { ia.close(); ib.close() }
  }

  /** Read a small control file fully (the replace intent). */
  private def readAll(fs: FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
      bos.toByteArray
    } finally in.close()
  }

  /** Load-or-train the dir's shared meta dictionary
    * (`_lineage/_shared_dict.bin`). The FIRST committed run trains it from
    * the 4096 rows SMALLEST BY md5 DOC KEY — hash order makes that a
    * uniform pseudo-random sample (smallest-by-id would bias toward one id
    * scheme), TakeOrdered makes it deterministic and driver-bounded, and
    * the job reads one projected (doc_id, source) column pass — marginal
    * next to the full encode that follows. It is published atomically;
    * every later run — resume, append — READS the stored bytes, so all
    * partitions of a dir code against the identical models no matter when
    * they were encoded. */
  private def sharedDictFor(ds: Dataset[SeqRow], fs: FileSystem,
                            dir: String): Array[Byte] = {
    val published = sharedDictBytes(fs, dir)
    if (published.isDefined) return published.get
    val spark = ds.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = ds.map(r => (DocKey.of(r.doc_id), r.doc_id, r.source))
      .orderBy(col("_1")).limit(4096).collect()
    // train on the REPRESENTATION the section actually holds: the
    // front-coded id blob (prefix varints + suffixes, ids in their natural
    // order as within a chunk) plus source strings
    val ids = rows.map(_._2).sorted
    val blob = ChunkBuilder.packStringsFront(ids) ++
      ChunkBuilder.packStrings(rows.map(_._3).distinct.sorted)
    val bytes = MetaDict.toBytes(MetaDict.train(blob))
    val dictPath = new Path(s"$dir/_lineage/_shared_dict.bin")
    val tmp = new Path(s"$dictPath.inprogress-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    out.write(bytes)
    out.close()
    // rename-no-overwrite is the fence: losing it means another driver
    // published first — read back the COMMITTED file either way, which is
    // what guarantees dir-wide consistency
    if (!fs.rename(tmp, dictPath)) fs.delete(tmp, false): Unit
    sharedDictBytes(fs, dir).getOrElse(
      throw new java.io.FileNotFoundException(dictPath.toString))
  }

  /** Read the manifest (all partitions) as a distributed Dataset — the
    * planning path for dirs past the local gate. The per-partition JSON
    * files are the commit protocol and the only manifest format: a
    * parquet copy compacted by an older engine is never read. */
  def readManifest(spark: SparkSession, dir: String): Dataset[ManifestRow] = {
    import spark.implicits._
    val fs = EngineFs.get(dir, spark.sparkContext.hadoopConfiguration)
    val files = manifestFiles(fs, dir)
    // a just-initialized table (catalog CREATE before first INSERT) has a
    // _lineage dir and zero manifest partitions; textFile() with an empty
    // path list would throw, so short-circuit the empty manifest
    if (files.isEmpty) spark.emptyDataset[ManifestRow]
    else spark.read.textFile(files.map(_.getPath.toString).toIndexedSeq: _*)
      .map(parseManifestLine _)
  }

  /** The committed manifest files: one per partition, HIGHEST generation
    * wins. A DELETE rewrite commits part-N.g(k+1).json by atomic rename and
    * only then removes the superseded file, so a racing lister may see both
    * generations of a partition — never neither — and this selection makes
    * either view consistent. Only names `manifestPidGen` parses are
    * manifests. While a row-level commit's intent is pending, the listing
    * is read through it (`intentHidden`), so a read returns exactly the
    * commit's pre-state or its post-state, never both copies. */
  private def manifestFiles(fs: FileSystem, dir: String)
      : Array[org.apache.hadoop.fs.FileStatus] = {
    val listing = fs.listStatus(new Path(s"$dir/_lineage"))
    val manifests = listing.flatMap(f =>
      manifestPidGen(f.getPath.getName).map(pg => (f, pg._1, pg._2)))
    val hidden =
      if (!listing.exists(_.getPath.getName == ReplaceIntentName))
        Set.empty[Int]
      else intentHidden(fs, dir, manifests.map(_._2).toSet) match {
        case Some(h) => h
        // the intent went away after the listing: its commit (or a
        // recovery) finished, so a fresh listing holds no pending intent
        case None => return manifestFiles(fs, dir)
      }
    manifests.filterNot(m => hidden(m._2)).groupBy(_._2).valuesIterator
      .map(_.maxBy(_._3)._1).toArray
  }

  /** Driver-local manifest read for the planning cache: ONE listing, its
    * currency marker, and — when the listed .json bytes fit `maxBytes` —
    * the parsed rows, with no Spark job at all. Returns (marker, None)
    * when the manifest is too big to read driver-side: the caller falls
    * back to the distributed read (`readManifest`), which is the 100-TB
    * path. Same parse (`parseManifestLine`), same files, same content as
    * the distributed JSON path by construction. */
  def readManifestLocal(conf: org.apache.hadoop.conf.Configuration,
                        dir: String, maxBytes: Long)
      : (String, Option[Array[ManifestRow]]) = {
    val fs = EngineFs.get(dir, conf)
    val files = manifestFiles(fs, dir)
    val marker = listingMarker(files)
    if (files.iterator.map(_.getLen).sum > maxBytes) (marker, None)
    else (marker, Some(files.sortBy(_.getPath.getName)
      .flatMap(f => readManifestFile(fs, f.getPath))))
  }

  /** The rows of ONE manifest file (one JSON line per chunk). */
  private def readManifestFile(fs: FileSystem, p: Path): Array[ManifestRow] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).map(parseManifestLine).toArray
    finally in.close()
  }

  /** Currency token for the planning cache: partition count plus an FNV
    * fingerprint of the sorted (name, byteLen) listing — a same-count
    * re-encode (delete + re-run with another chunking) changes file sizes
    * and is detected, not silently served stale. */
  private def listingMarker(
      files: Array[org.apache.hadoop.fs.FileStatus]): String = {
    var h = 0xcbf29ce484222325L
    files.map(f => (f.getPath.getName, f.getLen)).sortBy(_._1).foreach {
      case (name, len) =>
        var i = 0
        while (i < name.length) { h = (h ^ name.charAt(i)) * 1099511628211L; i += 1 }
        h = (h ^ len) * 1099511628211L
    }
    s"${files.length} ${java.lang.Long.toHexString(h)}"
  }

  // ---- bucket-layout marker ------------------------------------------------
  /** `_graft_buckets` holds n iff every committed part file contains exactly
    * the rows Spark's hash clustering assigns it: part_id % n ==
    * pmod(murmur3_42(doc_id), n) for every row. Written only by a write that
    * PRODUCED that layout (the DSv2 sink under `option("arrange", n)`, which
    * encodeToDir is), deleted by any write that breaks it
    * (unarranged appends, mismatched partition counts). The marker is what
    * lets the DSv2 scan report KeyGroupedPartitioning for storage-partitioned
    * (shuffle-free) joins — a WRONG marker makes such a join silently drop
    * matches, so every writer errs toward deletion, and an unreadable or
    * mid-write marker reads as None (no SPJ, never a wrong one). */
  private def bucketMarkerPath(dir: String) = new Path(s"$dir/_graft_buckets")

  def writeBucketMarker(fs: FileSystem, dir: String, n: Int): Unit = {
    require(n > 0, s"bucket count must be positive, got $n")
    val marker = bucketMarkerPath(dir)
    val tmp = new Path(s"$dir/_graft_buckets.inprogress")
    val out = fs.create(tmp, true)
    out.write(n.toString.getBytes("UTF-8"))
    out.close()
    if (fs.exists(marker)) fs.delete(marker, false) // rename won't overwrite
    if (!fs.rename(tmp, marker))
      throw new java.io.IOException(s"rename failed: $tmp -> $marker")
  }

  def readBucketMarker(fs: FileSystem, dir: String): Option[Int] =
    if (!fs.exists(bucketMarkerPath(dir))) None
    else {
      val in = fs.open(bucketMarkerPath(dir))
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      txt.toIntOption.filter(_ > 0)
    }

  def clearBucketMarker(fs: FileSystem, dir: String): Unit = {
    fs.delete(bucketMarkerPath(dir), false): Unit
  }

  // ---- copy-on-write DELETE --------------------------------------------------
  /** Chunk classification for a DELETE predicate, decided from manifest
    * metadata alone (zones / SrcStats): Keep = provably no row matches,
    * Drop = provably every row matches, Maybe = decode and test rows. */
  object DeleteClass { val Keep = 0; val Drop = 1; val Maybe = 2 }

  final case class DeleteStats(partsRewritten: Long, chunksDropped: Long,
                               chunksRewritten: Long, chunksCopied: Long,
                               rowsDeleted: Long) {
    def +(o: DeleteStats): DeleteStats = DeleteStats(
      partsRewritten + o.partsRewritten, chunksDropped + o.chunksDropped,
      chunksRewritten + o.chunksRewritten, chunksCopied + o.chunksCopied,
      rowsDeleted + o.rowsDeleted)
  }

  /** Copy-on-write DELETE over a lineage table: rows matching `pred` are
    * removed by rewriting ONLY the partitions that hold them, one
    * generation up (`part-N.gK.{json,graft}`). Per chunk, `classify`
    * (zone/SrcStats metadata only) decides the work: Keep chunks are
    * byte-copied verbatim (no decode, CRC intact — and a fully-Keep
    * partition is not touched at all), Drop chunks vanish without a read,
    * Maybe chunks decode, drop matching rows exactly, and re-encode. Each
    * rewritten partition is staged by a `GroupStager` and published by
    * `swapInGroup`, the row-level commit's generation swap. The
    * per-partition commit point is the atomic rename of the new manifest;
    * `manifestFiles` picks the highest generation, so a racing reader sees
    * the old or the new manifest, never neither or a mix of rows. The
    * superseded generation's files are removed after the swap (the engine's
    * single-writer contract — a reader holding the OLD manifest across the
    * swap can lose the data file under it, the same immutable-dir
    * assumption resume makes). Partition residues are preserved (rows are
    * only removed, never moved), so a `_graft_buckets` SPJ marker stays
    * valid; the manifest LISTING fingerprint changes with the new file
    * names, so the driver manifest cache invalidates itself. At scale the
    * cost is proportional to the data that actually changes: untouched
    * partitions are never opened, dropped chunks never read, and only
    * boundary chunks pay a decode+encode.
    *
    * Reference analog: pyppmd has no in-place mutation either — "removal"
    * is re-encoding the stream without the removed spans, which is exactly
    * what the Maybe path does per chunk (`tests/test_ppmd7.py:95-146`'s
    * chunked re-encode framing). */
  def deleteRewrite(spark: SparkSession, dir: String,
                    classify: ManifestRow => Int,
                    pred: SeqRow => Boolean,
                    onlyPids: Option[Set[Int]] = None): DeleteStats = {
    val hconf = new SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val fs0 = EngineFs.get(dir, hconf.value)
    if (!fs0.exists(new Path(s"$dir/_lineage")))
      throw new UnsupportedOperationException(
        s"DELETE needs a plain graft lineage table; $dir has none. " +
          "Streaming batch trees refuse DELETE by design: untilBatch " +
          "snapshots treat committed batches as immutable history.")
    // `onlyPids`: a driver-side prefilter (cached-manifest classification —
    // GraftDelete) already PROVED every other partition all-Keep; schedule
    // only the partitions that can change. Tasks re-read and re-classify
    // their own manifest, so a stale whitelist can only cost a no-op task,
    // never a wrong skip — soundness rests on the classifier, which is the
    // same function evaluated over the same committed manifest rows.
    val work = manifestFiles(fs0, dir).map(_.getPath.getName)
      .flatMap(n => manifestPidGen(n).map { case (pid, gen) => (n, pid, gen) })
      .filter { case (_, pid, _) => onlyPids.forall(_.contains(pid)) }
      .toIndexedSeq
    if (work.isEmpty) return DeleteStats(0, 0, 0, 0, 0)
    val dict = sharedDictBytes(fs0, dir)
    spark.sparkContext
      .parallelize(work,
        math.min(work.size, spark.sparkContext.defaultParallelism.max(1)))
      .map { case (name, pid, gen) =>
        deleteRewriteOne(hconf.value, dir, name, pid, gen, classify, pred,
          dict)
      }
      .reduce(_ + _)
  }

  private def deleteRewriteOne(conf: Configuration, dir: String,
                               manifestName: String, pid: Int, oldGen: Int,
                               classify: ManifestRow => Int,
                               pred: SeqRow => Boolean,
                               dictBytes: Option[Array[Byte]]): DeleteStats = {
    val fs = EngineFs.get(dir, conf)
    val rows = readManifestFile(fs, new Path(s"$dir/_lineage/$manifestName"))
    val classes = rows.map(classify)
    val none = DeleteStats(0, 0, 0, 0, 0)
    // fully-Keep partition: provably holds no matching row — untouched
    if (classes.forall(_ == DeleteClass.Keep)) return none
    val table = dictBytes.map(MetaDict.fromBytes).orNull
    val stager = new GroupStager(fs, dir, pid,
      java.util.UUID.randomUUID().toString)
    var dropped = 0L; var rewritten = 0L; var copied = 0L; var rowsDel = 0L
    val in = if (rows.nonEmpty) fs.open(dataPath(dir, pid, oldGen)) else null
    def copyVerbatim(m: ManifestRow): Unit = {
      if (m.length < 0 || m.length > Int.MaxValue - 8)
        throw graft.codec.CorruptException(
          s"chunk frame length ${m.length} out of addressable bounds")
      in.seek(m.offset)
      val buf = new Array[Byte](m.length.toInt)
      in.readFully(buf)
      stager.addFrame(buf, m)
      copied += 1
    }
    try {
      rows.zip(classes).foreach {
        case (m, c) if c == DeleteClass.Keep => copyVerbatim(m)
        case (m, c) if c == DeleteClass.Drop =>
          dropped += 1; rowsDel += m.n_rows
        case (m, _) =>
          val kept = ChunkBuilder.open(readChunk(conf, dir, m), table)
            .filterNot(pred).toArray
          if (kept.isEmpty) { dropped += 1; rowsDel += m.n_rows }
          else if (kept.length == m.n_rows) copyVerbatim(m) // exact test: 0 hits
          else {
            stager.add(ChunkBuilder.build(pid, m.seq, kept.map(_.doc_id),
              kept.map(_.source), kept.flatMap(_.tokens),
              kept.map(_.tokens.length), table))
            rewritten += 1
            rowsDel += (m.n_rows - kept.length)
          }
      }
    } catch { case t: Throwable => stager.abort(); throw t }
    finally if (in != null) in.close()
    if (dropped == 0 && rewritten == 0) {
      // Maybe chunks existed but the exact row test hit nothing anywhere:
      // the table is unchanged — discard the speculative copy
      stager.abort()
      return none
    }
    // the listing this task planned from is the one to supersede: oldGen
    // becomes oldGen + 1 (an emptied partition gets an empty generation)
    val staged = stager.finish()
    swapInGroup(fs, dir, pid, staged.map(_._1),
      staged.fold(Seq.empty[ManifestRow])(_._2), Some(Array((pid, oldGen))))
    DeleteStats(1, dropped, rewritten, copied, rowsDel)
  }

  // ---- group replacement (row-level UPDATE/MERGE/DELETE rewrites) -----------
  /** The table's shared meta dictionary bytes, if trained (the encoding
    * context every rewrite of this table must reuse — chunks written with
    * a different dict would decode wrong). */
  private[graft] def sharedDictBytes(fs: FileSystem,
                                     dir: String): Option[Array[Byte]] = {
    val p = new Path(s"$dir/_lineage/_shared_dict.bin")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val len = fs.getFileStatus(p).getLen
        if (len > Int.MaxValue) throw graft.codec.CorruptException(
          s"shared dict implausibly large: $len bytes")
        val buf = new Array[Byte](len.toInt)
        in.readFully(buf)
        Some(buf)
      } finally in.close()
    }
  }

  /** Executor-side staging for ONE replacement group (lineage partition)
    * of a row-level commit or a DELETE rewrite: chunks append to a
    * `.replace.inprogress-<attempt>` data file; nothing becomes visible
    * until `swapInGroup` renames it under the next generation. Manifest
    * rows carry placeholder generations — the swap stamps the real one
    * (only the caller holding the listing knows it). */
  private[graft] final class GroupStager(fs: FileSystem, dir: String,
                                         pid: Int, attempt: String) {
    private val staged =
      new Path(s"$dir/data/${pn(math.max(pid, 0))}.replace.inprogress-$attempt")
    private val appender = new ChunkAppender(fs, staged)

    def add(c: EncodedChunk): Unit = appender.add(c)

    /** Append an already-framed chunk verbatim (the DELETE rewrite's Keep
      * chunks: no decode, CRC intact). */
    def addFrame(frame: Array[Byte], m: ManifestRow): Unit =
      appender.addFrame(frame, m)

    /** Close and return (staged path, manifest rows); None when no chunk
      * was ever added (the staged file, if any, is removed). */
    def finish(): Option[(String, Seq[ManifestRow])] = {
      appender.close()
      if (appender.rows.isEmpty) { fs.delete(staged, false); None }
      else Some((staged.toString, appender.rows.toSeq))
    }
    def abort(): Unit = {
      appender.close()
      fs.delete(staged, false): Unit
    }
  }

  /** All committed (pid, gen) pairs — ONE listing; pass to `swapInGroup`
    * so a broad rewrite of many groups costs one RPC, not one per group. */
  private[graft] def committedPidGens(fs: FileSystem,
                                      dir: String): Array[(Int, Int)] =
    fs.listStatus(new Path(s"$dir/_lineage"))
      .flatMap(s => manifestPidGen(s.getPath.getName))

  /** The ONE generation swap, shared by the DELETE rewrite and the
    * row-level UPDATE/MERGE commit: the staged data file (or an EMPTY one —
    * the group's rows were all deleted) becomes the partition's next
    * generation, atomic at the manifest rename; every older generation is
    * retired after the swap. `rows` get the new generation and `pid`
    * stamped. `pidGens` is the caller's listing of committed (pid, gen)
    * pairs (one listing for many swaps); without it the swap lists. */
  private[graft] def swapInGroup(fs: FileSystem, dir: String, pid: Int,
                                 staged: Option[String],
                                 rows: Seq[ManifestRow],
                                 pidGens: Option[Array[(Int, Int)]] = None)
      : Unit = {
    val committed = pidGens.getOrElse(committedPidGens(fs, dir))
    val newGen = committed.collect { case (p, g) if p == pid => g }
      .maxOption.map(_ + 1).getOrElse(0)
    val dataFinal = dataPath(dir, pid, newGen)
    if (fs.exists(dataFinal)) fs.delete(dataFinal, false) // dead prior attempt
    staged match {
      case Some(s) =>
        if (!fs.rename(new Path(s), dataFinal))
          throw new java.io.IOException(s"rename failed: $s -> $dataFinal")
      case None => fs.create(dataFinal, true).close() // emptied group
    }
    val attempt = java.util.UUID.randomUUID().toString
    val mTmp = new Path(
      s"$dir/_lineage/${pn(pid)}${genSfx(newGen)}.json.inprogress-$attempt")
    // part_id (and therefore chunk_id = pid<<32|seq) is stamped HERE: a
    // MERGE-inserted group's pid is only decided at commit. The manifest
    // is authoritative for identity; the frame-embedded ids are advisory
    writeManifest(fs, mTmp, rows.map(r => r.copy(part_id = pid,
      chunk_id = (pid.toLong << 32) | (r.seq.toLong & 0xffffffffL),
      gen = newGen)))
    val mFinal = manifestPath(dir, pid, newGen)
    if (fs.exists(mFinal)) fs.delete(mFinal, false) // dead prior attempt
    if (!fs.rename(mTmp, mFinal)) // commit point
      throw new java.io.IOException(s"rename failed: $mTmp -> $mFinal")
    // retire every superseded generation (manifest first); the listing
    // came from before this swap, which is exactly the set to retire
    committed.foreach { case (p, g) =>
      if (p == pid && g < newGen) {
        fs.delete(manifestPath(dir, pid, g), false)
        fs.delete(dataPath(dir, pid, g), false)
      }
    }
  }

  // ---- replace-commit intent (row-level UPDATE/MERGE crash recovery) -------
  /** The row-level (ReplaceData) commit is add-then-retire; a crash between
    * the fresh-group swaps and the retirement of the scanned groups would
    * otherwise leave the survivors duplicated FOREVER (vacuum cannot tell a
    * half-retired rewrite from live data, and re-running the DML rewrites
    * both copies). The intent file closes that hole: written atomically
    * BEFORE the first swap, listing the fresh pids about to be added and
    * the scanned pids to retire; deleted only after the last retirement.
    * Recovery (`recoverReplaceIntent` — run by vacuum and by the next
    * row-level commit) decides by inspection:
    *   - every fresh pid committed  -> ROLL FORWARD: finish retiring (the
    *     replacement rows are all live, so retiring the scanned groups is
    *     exactly the dead commit's remaining work);
    *   - any fresh pid missing      -> ROLL BACK: delete the fresh pids
    *     that did land (they are brand-new partitions past every
    *     pre-existing pid, so deleting them restores the pre-DML table).
    * Both paths end by deleting the intent. Single-writer contract, same
    * as DELETE/vacuum. */
  private val ReplaceIntentName = "_replace_intent.json"
  private def replaceIntentPath(dir: String) =
    new Path(s"$dir/_lineage/$ReplaceIntentName")

  private[graft] def writeReplaceIntent(fs: FileSystem, dir: String,
                                        fresh: Seq[Int],
                                        retire: Seq[Int]): Unit = {
    val json = s"""{"fresh":[${fresh.mkString(",")}],""" +
      s""""retire":[${retire.mkString(",")}]}"""
    val tmp = new Path(
      s"$dir/_lineage/$ReplaceIntentName.inprogress-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    out.write(json.getBytes("UTF-8"))
    out.close()
    val p = replaceIntentPath(dir)
    if (fs.exists(p)) fs.delete(p, false) // stale intent: recovered by caller
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"rename failed: $tmp -> $p")
  }

  private[graft] def clearReplaceIntent(fs: FileSystem, dir: String): Unit =
    fs.delete(replaceIntentPath(dir), false): Unit

  /** The pending intent's (fresh, retire) pids; None without an intent.
    * A garbled intent throws: a wrong roll direction loses rows, so
    * refusing to guess loudly is the only safe behaviour. */
  private def readReplaceIntent(fs: FileSystem,
                                dir: String): Option[(Seq[Int], Seq[Int])] = {
    val p = replaceIntentPath(dir)
    val txt =
      try new String(readAll(fs, p), "UTF-8")
      catch { case _: java.io.FileNotFoundException => return None }
    val Pat = """\{"fresh":\[([0-9,]*)\],"retire":\[([0-9,]*)\]\}""".r
    txt.trim match {
      case Pat(f, r) =>
        def ints(s: String): Seq[Int] =
          if (s.isEmpty) Seq.empty else s.split(',').toSeq.map(_.toInt)
        Some((ints(f), ints(r)))
      case _ => throw new java.io.IOException(
        s"unreadable replace intent at $p; resolve manually")
    }
  }

  /** The read-only view of a pending intent: the pids a read must skip so
    * that it sees the state recovery would leave. Every fresh pid committed
    * -> the retire pids (roll forward: the replacement rows are all live);
    * otherwise the fresh pids (roll back: the pre-DML table). None when the
    * intent is gone. */
  private def intentHidden(fs: FileSystem, dir: String,
                           committed: Set[Int]): Option[Set[Int]] =
    readReplaceIntent(fs, dir).map { case (fresh, retire) =>
      if (fresh.forall(committed)) retire.toSet else fresh.toSet
    }

  /** Complete (or undo) a dead row-level commit — see writeReplaceIntent.
    * No-op without an intent file. Returns true when an intent was found
    * and resolved. */
  def recoverReplaceIntent(fs: FileSystem, dir: String): Boolean =
    readReplaceIntent(fs, dir) match {
      case None => false
      case Some((fresh, retire)) =>
        val committed = committedPidGens(fs, dir)
        val byPid = committed.groupBy(_._1)
        if (fresh.forall(byPid.contains)) {
          // roll FORWARD: every replacement partition landed; finish the
          // retirement of any scanned group still holding rows (an
          // already-retired pid has an EMPTY manifest at its top gen —
          // retiring it again would only stack empty generations)
          retire.foreach { pid =>
            byPid.get(pid).foreach { gens =>
              val top = gens.map(_._2).max
              val live = {
                val in = fs.open(manifestPath(dir, pid, top))
                try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
                  .exists(_.nonEmpty)
                finally in.close()
              }
              if (live) swapInGroup(fs, dir, pid, None, Seq.empty,
                Some(committed))
            }
          }
        } else {
          // roll BACK: the adds did not finish — delete the fresh pids
          // that did land (brand-new partitions; removing them restores
          // the pre-DML state exactly). A fresh pid with no committed
          // generation may still hold its gen-0 data file (the swap died
          // between the data and the manifest rename); vacuum keeps gen-0
          // data without a manifest for resume, so it is removed here
          fresh.foreach { pid =>
            byPid.get(pid) match {
              case Some(gens) => gens.foreach { case (_, g) =>
                fs.delete(manifestPath(dir, pid, g), false)
                fs.delete(dataPath(dir, pid, g), false)
              }
              case None => fs.delete(dataPath(dir, pid, 0), false)
            }
          }
        }
        clearReplaceIntent(fs, dir)
        true
    }

  final case class VacuumStats(inprogressRemoved: Long,
                               supersededRemoved: Long,
                               orphanDataRemoved: Long)

  /** Reclaim garbage a crash can strand in a lineage dir — a driver-side
    * maintenance op (one listing per subdir; nothing here scales with data):
    *
    *   - `*.inprogress-*` attempt files older than `olderThanMs` (younger
    *     ones may belong to a LIVE write/delete attempt — left alone);
    *   - superseded GENERATIONS: a crash between a DELETE's manifest
    *     commit and its retirement step leaves the old gen's files behind.
    *     Readers already ignore them (`manifestFiles` takes the highest
    *     gen), so removal is immediate — the same single-writer assumption
    *     the delete's own retirement makes;
    *   - gen>0 DATA files with no committed manifest at any gen ≥ theirs,
    *     older than the TTL: a delete that crashed after the data rename
    *     but before the manifest rename (a retried delete overwrites this
    *     file, so only TTL-stale ones are treated as abandoned). Gen-0
    *     data without a manifest is an in-flight FIRST encode and is the
    *     resume protocol's property — never touched.
    *
    * Batch trees: run per batch dir (this op takes a plain lineage dir,
    * the same contract as DELETE). */
  def vacuum(conf: Configuration, dir: String,
             olderThanMs: Long = 24L * 3600 * 1000): VacuumStats = {
    val fs = EngineFs.get(dir, conf)
    // a dead row-level commit first: its intent decides roll forward/back,
    // and only after resolution are this sweep's superseded/orphan shapes
    // unambiguous
    if (fs.exists(new Path(s"$dir/_lineage"))) recoverReplaceIntent(fs, dir)
    val cutoff = System.currentTimeMillis() - olderThanMs
    var inprog = 0L; var superseded = 0L; var orphans = 0L
    def sweepInprogress(sub: String): Unit = {
      val p = new Path(s"$dir/$sub")
      if (fs.exists(p)) fs.listStatus(p).foreach { f =>
        if (f.getPath.getName.contains(".inprogress") &&
            f.getModificationTime < cutoff) {
          fs.delete(f.getPath, false); inprog += 1
        }
      }
    }
    sweepInprogress("data")
    sweepInprogress("_lineage")
    val ldir = new Path(s"$dir/_lineage")
    if (!fs.exists(ldir)) return VacuumStats(inprog, 0, 0)
    val committed = fs.listStatus(ldir).map(_.getPath.getName)
      .flatMap(manifestPidGen(_))
    val maxGen: Map[Int, Int] =
      committed.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    // superseded manifests + their data files (gen < the committed max)
    committed.filter { case (pid, g) => g < maxGen(pid) }.foreach {
      case (pid, g) =>
        if (fs.delete(manifestPath(dir, pid, g), false)) superseded += 1
        if (fs.delete(dataPath(dir, pid, g), false)) superseded += 1
    }
    // data files stranded by a crash: (a) ANY data file (gen 0 included)
    // whose gen < the committed max for its pid is proven superseded — a
    // higher generation COMMITTED, so this cannot be an in-flight first
    // encode (a delete that died between fs.delete(oldManifest) and
    // fs.delete(oldData) leaves exactly this shape, which the
    // manifest-keyed sweep above cannot see); (b) gen>0 data with no
    // manifest at its gen or above, older than the TTL — a delete that
    // crashed between data rename and manifest rename (younger ones may
    // be a live retry's property). Gen-0 data with NO committed
    // generations at all stays: in-flight first encode, resume's property.
    val DataName = """part-(\d+)(?:\.g(\d+))?\.graft""".r
    val ddir = new Path(s"$dir/data")
    if (fs.exists(ddir)) fs.listStatus(ddir).foreach { f =>
      f.getPath.getName match {
        case DataName(p, g) =>
          val pid = p.toInt
          val gen = Option(g).map(_.toInt).getOrElse(0)
          val mg = maxGen.getOrElse(pid, -1)
          if (gen < mg) { fs.delete(f.getPath, false); superseded += 1 }
          else if (gen > 0 && mg < gen && f.getModificationTime < cutoff) {
            fs.delete(f.getPath, false); orphans += 1
          }
        case _ =>
          // foreign names are not ours to delete
      }
    }
    VacuumStats(inprog, superseded, orphans)
  }

  // ---- batch trees (streaming sink layout: root/batch=N/{data,_lineage}) ----

  /** Parse a batch dir's number from its NAME ("batch=123" -> 123). */
  def batchNumber(dirPath: String): Option[Long] = {
    val name = new Path(dirPath).getName
    if (name.startsWith("batch=")) name.stripPrefix("batch=").toLongOption
    else None
  }

  /** NUMERIC-aware batch ordering: zero-padded names sort correctly only
    * until the pad rolls over (batch=100000 sorts between 10000 and 10001
    * lexicographically — a silent duplicate+drop for a count-based stream
    * offset). Numbered batches order by VALUE; anything unnumbered sorts
    * after them by name. */
  private def batchSortKey(dirPath: String): (Long, String) =
    (batchNumber(dirPath).getOrElse(Long.MaxValue), new Path(dirPath).getName)

  /** The lineage subdirs of a streaming batch tree, in batch order. A dir
    * qualifies by CONTENT (it has a _lineage dir), not by name — manual
    * layouts compose too. */
  def batchDirs(spark: SparkSession, root: String): Seq[String] = {
    val fs = EngineFs.get(root,
      spark.sparkContext.hadoopConfiguration)
    val p = new Path(root)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath)
      .filter(d => fs.exists(new Path(d, "_lineage")))
      .map(_.toString).sortBy(batchSortKey).toSeq
  }

  /** Mark a batch dir fully committed. The streaming SOURCE
    * (`readStream.format("graft")`) uses this marker — not the dir's mere
    * existence — as the visibility point, so a half-written batch is never
    * consumed and then skipped forever by an advancing offset. Idempotent
    * (batch retries re-mark). */
  def markBatchReady(spark: SparkSession, batchDir: String): Unit = {
    val fs = EngineFs.get(batchDir,
      spark.sparkContext.hadoopConfiguration)
    val m = new Path(s"$batchDir/_graft_batch_ready")
    if (!fs.exists(m)) fs.create(m, true).close()
  }

  /** Mark a tree root as STREAMING-PRODUCED, before its first batch is
    * written. Closes the first-batch visibility hole: while the sink writes
    * batch 0 (dir + _lineage exist, ready marker not yet), a batch read of
    * the tree would otherwise see no markers anywhere, conclude "marker-less
    * at-rest tree", and read the half-written batch. With this marker,
    * readers apply READY-marker semantics from the stream's very first
    * trigger. Idempotent. */
  def markStreamTree(spark: SparkSession, root: String): Unit = {
    val fs = EngineFs.get(root,
      spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(root))
    val m = new Path(s"$root/_graft_stream_tree")
    if (!fs.exists(m)) fs.create(m, true).close()
  }

  /** True when the root is a streaming-produced tree (see markStreamTree):
    * readers must then trust only READY-marked batches, even when none is
    * ready yet. */
  def isStreamTree(spark: SparkSession, root: String): Boolean = {
    val fs = EngineFs.get(root,
      spark.sparkContext.hadoopConfiguration)
    fs.exists(new Path(s"$root/_graft_stream_tree"))
  }

  /** Refuse a batch write into a batch-TREE root: it would create
    * `dir/_lineage`, after which resolveReadDirs resolves the ROOT as a
    * plain table and every batch=N subdir goes silently invisible to batch
    * reads (and a restarted stream reader fails on its root check). The
    * one guard of the DSv2 sink and encodeToDir, run before either creates
    * anything under `dir`. */
  def requireNotBatchTree(spark: SparkSession, dir: String): Unit =
    if (isStreamTree(spark, dir) || batchDirs(spark, dir).nonEmpty)
      throw new IllegalArgumentException(
        s"$dir is a batch TREE (streaming-sink output / batch=N layout) " +
          "— batch writes target plain lineage tables; use writeStream " +
          "or a fresh root")

  /** The batch subdirs a BATCH read of the tree may trust: READY-marked
    * dirs when the tree is marker-aware (any ready marker present, or the
    * tree-level stream marker says markers are coming), the full at-rest
    * listing otherwise. */
  def visibleBatchDirs(spark: SparkSession, root: String): Seq[String] = {
    val ready = readyBatchDirs(spark, root)
    if (ready.nonEmpty || isStreamTree(spark, root)) ready
    else batchDirs(spark, root)
  }

  /** The READY batch subdirs of a streaming tree, in batch order — the
    * incremental reader's view (batchDirs is the at-rest view). One glob
    * listing for the markers instead of one exists() RPC per batch: over a
    * year of micro-batches that is the difference between 2 round trips
    * and tens of thousands, every trigger. */
  def readyBatchDirs(spark: SparkSession, root: String): Seq[String] = {
    val fs = EngineFs.get(root,
      spark.sparkContext.hadoopConfiguration)
    // subdir NAMES are unique within one root: compare by name to stay
    // scheme/authority-normalization-proof. A transient I/O error here must
    // PROPAGATE (failing the trigger so Spark retries): mapping it to "no
    // ready batches" regresses the stream's watermark and later re-delivers
    // the whole tree, or plans zero partitions for an offset range Spark
    // then commits — permanent data loss. Only the no-match/missing-root
    // cases (globStatus null, FileNotFound) legitimately mean "none ready".
    val markedNames: Set[String] =
      try {
        val st = fs.globStatus(new Path(s"$root/*/_graft_batch_ready"))
        if (st == null) Set.empty[String]
        else st.map(_.getPath.getParent.getName).toSet
      } catch { case _: java.io.FileNotFoundException => Set.empty[String] }
    batchDirs(spark, root).filter(d => markedNames.contains(new Path(d).getName))
  }

  /** Compact a streaming batch TREE into one at-rest lineage TABLE: a
    * year of micro-batches leaves thousands of small batch dirs whose
    * chunks are epoch-sized; re-encoding through encodeToDir (the sink's
    * arranged resume write) gives full-size chunks, one shared dictionary,
    * and one manifest — the table the batch readers actually want. `dst`
    * must not be a batch-tree root: encodeToDir refuses one.
    *
    * The input is PINNED, never "the tree right now": only READY batches
    * with number <= `untilBatch` are consumed. That pin is what makes the
    * inherited guarantees true on a LIVE tree — an in-flight batch (dir
    * present, no ready marker) is never half-captured, and a failed
    * compaction re-run with the same `untilBatch` decodes the identical
    * input, which is encodeToDir's resume precondition (batches readied
    * after the pin don't leak into skipped partitions). The caller then
    * expires exactly the consumed range: `expireBatchesBelow(root,
    * untilBatch + 1)` — no listing race, because the pin IS the frontier.
    * The decoded Dataset is persisted across encodeToDir's two passes
    * (dict training + the arranged write) so the tree's payloads decode
    * once. */
  def compactTreeToTable(spark: SparkSession, root: String, dst: String,
                         cfg: EncoderConfig, untilBatch: Long): Long = {
    import spark.implicits._
    val dirs = readyBatchDirs(spark, root).filter(d =>
      batchNumber(d).exists(_ <= untilBatch))
    val ds = dirs.map(d => spark.read.format("graft").load(d).as[SeqRow])
      .reduceOption(_ union _)
      .getOrElse(spark.emptyDataset[SeqRow])
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try encodeToDir(ds, dst, cfg)
    finally { ds.unpersist(); () }
  }

  /** Retention for streaming trees: delete every READY batch whose number
    * is strictly below `minBatchKept`, returning how many were removed. A
    * tree written forever grows forever — downstream consumers checkpoint
    * their offset (a batch number), so expiring below the slowest
    * consumer's committed offset is safe by construction. Visibility is
    * revoked FIRST (ready marker deleted before the data), so a reader
    * listing mid-expiry never plans a half-deleted batch; in-flight
    * (unready) batches are never touched — they belong to the writer.
    * Callers own the policy; this is the mechanism. */
  def expireBatchesBelow(spark: SparkSession, root: String,
                         minBatchKept: Long): Long = {
    val fs = EngineFs.get(root,
      spark.sparkContext.hadoopConfiguration)
    val readyNames = readyBatchDirs(spark, root)
      .map(d => new Path(d).getName).toSet
    val victims = batchDirs(spark, root)
      .flatMap(d => batchNumber(d).map(n => (n, d)))
      .filter { case (n, d) =>
        n < minBatchKept && readyNames.contains(new Path(d).getName) }
    victims.foreach { case (_, d) =>
      fs.delete(new Path(s"$d/_graft_batch_ready"), false) // revoke first
      fs.delete(new Path(d), true)
    }
    victims.size.toLong
  }

  /** Single-chunk fetch: seek to a manifest row's frame and unframe it.
    * Public for external readers (the `format("graft")` DSv2 source). */
  def readChunk(conf: Configuration, dir: String, m: ManifestRow): EncodedChunk = {
    val fs = EngineFs.get(dir, conf)
    val in = fs.open(dataPath(dir, m.part_id, m.gen))
    try {
      // typed bound BEFORE the narrowing: a manifest frame length past the
      // 2 GB array limit must fail as corruption, not as an untyped
      // NegativeArraySizeException from the Int overflow
      if (m.length < 0 || m.length > Int.MaxValue - 8)
        throw graft.codec.CorruptException(
          s"chunk frame length ${m.length} out of addressable bounds")
      in.seek(m.offset)
      val buf = new Array[Byte](m.length.toInt)
      in.readFully(buf)
      unframeChunk(buf, m)
    } finally in.close()
  }

  /** Meta-only chunk fetch: parse the payload length from the frame head,
    * SEEK past the payload, and read just the meta section — the payload's
    * bytes never leave the disk (two small range reads instead of one
    * `m.length` read; on an object store, two range GETs). This is what
    * gives column pruning teeth at the I/O level: a side-column rollup over
    * 100 TB transfers the few-KB meta sections, not the 8-GB-per-partition
    * payloads it would otherwise read and skip. Returns a chunk whose
    * `payload` is EMPTY — callers must only open side/meta iterators on it. */
  def readChunkMeta(conf: Configuration, dir: String, m: ManifestRow): EncodedChunk = {
    val fs = EngineFs.get(dir, conf)
    val in = fs.open(dataPath(dir, m.part_id, m.gen))
    try {
      in.seek(m.offset)
      val hdr = new Array[Byte](math.min(10L, m.length).toInt)
      in.readFully(hdr)
      val r = new graft.codec.Varint.Reader(hdr)
      val pLen = r.read()
      // bound the arithmetic in Long BEFORE any allocation/seek: a corrupt
      // frame must fail typed, never allocate from hostile lengths
      val metaAt = r.pos.toLong + pLen
      val metaBytes = m.length - metaAt
      if (pLen < 0 || metaAt < 0 || metaBytes < 1 || metaBytes > m.length ||
          metaBytes > Int.MaxValue - 8)
        throw graft.codec.CorruptException(
          s"chunk frame payload length $pLen out of bounds (frame ${m.length})")
      in.seek(m.offset + metaAt)
      val rest = new Array[Byte](metaBytes.toInt)
      in.readFully(rest)
      val r2 = new graft.codec.Varint.Reader(rest)
      val mLen = r2.read()
      if (mLen < 0 || mLen > rest.length - r2.pos)
        throw graft.codec.CorruptException(
          s"chunk frame meta length $mLen out of bounds (${rest.length})")
      val meta = java.util.Arrays.copyOfRange(rest, r2.pos, r2.pos + mLen.toInt)
      EncodedChunk(m.chunk_id, m.part_id, m.seq, m.codec, m.n_rows, m.n_tokens,
        m.raw_bytes, m.enc_bytes, m.crc32, m.min_doc_id, m.max_doc_id,
        m.min_tok, m.max_tok, m.tok_set, Array.emptyByteArray, meta,
        m.src_stats)
    } finally in.close()
  }

  /** The dir's serialized shared meta dictionary, if published — public for
    * external readers that open chunks themselves. */
  def sharedDictBytes(spark: SparkSession, dir: String): Option[Array[Byte]] =
    sharedDictBytes(EngineFs.get(dir,
      spark.sparkContext.hadoopConfiguration), dir)

  // ---- chunk record framing ---------------------------------------------------
  private[engine] def frameChunk(c: EncodedChunk): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(
      c.payload.length + c.meta.length + 16)
    graft.codec.Varint.write(bos, c.payload.length.toLong)
    bos.write(c.payload, 0, c.payload.length)
    graft.codec.Varint.write(bos, c.meta.length.toLong)
    bos.write(c.meta, 0, c.meta.length)
    bos.toByteArray
  }

  private[engine] def unframeChunk(buf: Array[Byte], m: ManifestRow): EncodedChunk = {
    val r = new graft.codec.Varint.Reader(buf)
    val pLen = r.read().toInt
    val payload = java.util.Arrays.copyOfRange(buf, r.pos, r.pos + pLen)
    r.pos += pLen
    val mLen = r.read().toInt
    val meta = java.util.Arrays.copyOfRange(buf, r.pos, r.pos + mLen)
    EncodedChunk(m.chunk_id, m.part_id, m.seq, m.codec, m.n_rows, m.n_tokens,
      m.raw_bytes, m.enc_bytes, m.crc32, m.min_doc_id, m.max_doc_id,
      m.min_tok, m.max_tok, m.tok_set, payload, meta, m.src_stats)
  }

  // ---- tiny JSON (flat schema, no deps) ----------------------------------------
  private def esc(s: String): String =
    s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString }

  /** One manifest line. The sketch is written in its on-disk form
    * (`TokenSketch.pack`: an exact bitmap Huffman-coded as mode 4 when that
    * is smaller); the blobs are base64, the doc_ids `esc`-escaped. */
  private[engine] def manifestJson(r: ManifestRow): String =
    s"""{"part_id":${r.part_id},"seq":${r.seq},"chunk_id":${r.chunk_id},""" +
    s""""codec":${r.codec},"n_rows":${r.n_rows},"n_tokens":${r.n_tokens},""" +
    s""""raw_bytes":${r.raw_bytes},"enc_bytes":${r.enc_bytes},"crc32":${r.crc32},""" +
    s""""offset":${r.offset},"length":${r.length},""" +
    s""""min_tok":${r.min_tok},"max_tok":${r.max_tok},""" +
    s""""tok_set":"${java.util.Base64.getEncoder.encodeToString(TokenSketch.pack(r.tok_set))}",""" +
    s""""src_stats":"${java.util.Base64.getEncoder.encodeToString(r.src_stats)}",""" +
    s""""gen":${r.gen},""" +
    s""""min_doc_id":"${esc(r.min_doc_id)}","max_doc_id":"${esc(r.max_doc_id)}"}"""

  // the numeric fields of a manifest line; the first 11 are required
  private val NumKeys = Array("part_id", "seq", "chunk_id", "codec", "n_rows",
    "n_tokens", "raw_bytes", "enc_bytes", "crc32", "offset", "length",
    "min_tok", "max_tok", "gen")
  private val NumIdx: Map[String, Int] = NumKeys.zipWithIndex.toMap

  /** Parse one manifest line in ONE pass over its flat `"key":value` object
    * (every value a number or a string, keys in any order, unknown keys
    * skipped). Strings decode every JSON escape, so a doc_id holding a
    * control character reads back as written. Fields added after v1
    * default instead of throwing, so a lineage dir written by an older
    * engine still resumes/decodes: missing token zone bounds take the
    * conservative "could contain anything" range, a missing or unreadable
    * tok_set the empty "unknown" sketch (never prunes), a missing src_stats
    * the empty blob (SrcStats reads it as "no stats": meta-read fallback),
    * and a missing gen 0 (pre-gen manifests live in the gen-0 files). Any
    * other missing field throws IllegalArgumentException. */
  private[engine] def parseManifestLine(line: String): ManifestRow = {
    val n = line.length
    var p = 0
    def bad(why: String): Nothing = throw new IllegalArgumentException(
      s"malformed manifest line ($why at $p): $line")
    def skipWs(): Unit = while (p < n && line.charAt(p) <= ' ') p += 1
    def expect(c: Char): Unit = {
      skipWs()
      if (p >= n || line.charAt(p) != c) bad(s"expected '$c'")
      p += 1
    }
    def num(): Long = {
      val from = p
      if (p < n && line.charAt(p) == '-') p += 1
      while (p < n && line.charAt(p) >= '0' && line.charAt(p) <= '9') p += 1
      java.lang.Long.parseLong(line, from, p, 10) // throws on "", "-", overflow
    }
    def str(): String = {
      expect('"')
      val from = p
      while (p < n && line.charAt(p) != '"' && line.charAt(p) != '\\') p += 1
      if (p < n && line.charAt(p) == '"') { p += 1; return line.substring(from, p - 1) }
      val sb = new java.lang.StringBuilder(p - from + 16).append(line, from, p)
      while (p < n && line.charAt(p) != '"') {
        val c = line.charAt(p)
        if (c != '\\') { sb.append(c); p += 1 }
        else if (p + 1 >= n) bad("dangling escape")
        else {
          line.charAt(p + 1) match {
            case '"' => sb.append('"'); case '\\' => sb.append('\\')
            case '/' => sb.append('/'); case 'b' => sb.append('\b')
            case 'f' => sb.append('\f'); case 'n' => sb.append('\n')
            case 'r' => sb.append('\r'); case 't' => sb.append('\t')
            case 'u' =>
              if (p + 6 > n) bad("short \\u escape")
              var v = 0
              var k = p + 2
              while (k < p + 6) {
                val d = Character.digit(line.charAt(k), 16)
                if (d < 0) bad("bad \\u escape")
                v = v << 4 | d
                k += 1
              }
              sb.append(v.toChar)
              p += 4
            case e => bad(s"bad escape \\$e")
          }
          p += 2
        }
      }
      if (p >= n) bad("unterminated string")
      p += 1
      sb.toString
    }
    def blob(): Array[Byte] = {
      val b64 = str()
      try java.util.Base64.getDecoder.decode(b64)
      catch { case _: IllegalArgumentException => Array.emptyByteArray }
    }
    val nums = new Array[Long](NumKeys.length)
    var seen = 0 // bit i set: NumKeys(i) was read
    var minDoc: String = null
    var maxDoc: String = null
    var tokSet = Array.emptyByteArray
    var srcStats = Array.emptyByteArray
    expect('{')
    skipWs()
    var more = p >= n || line.charAt(p) != '}'
    if (!more) p += 1
    while (more) {
      val key = str()
      expect(':')
      skipWs()
      key match {
        case "min_doc_id" => minDoc = str()
        case "max_doc_id" => maxDoc = str()
        case "tok_set" => tokSet = TokenSketch.unpack(blob())
        case "src_stats" => srcStats = blob()
        case _ =>
          val i = NumIdx.getOrElse(key, -1)
          if (i >= 0) { nums(i) = num(); seen |= 1 << i }
          else if (p < n && line.charAt(p) == '"') str()
          else num()
      }
      skipWs()
      if (p < n && line.charAt(p) == ',') p += 1
      else { expect('}'); more = false }
    }
    def missing(k: String): Nothing =
      throw new IllegalArgumentException(s"manifest line missing $k: $line")
    def req(i: Int): Long = if ((seen >>> i & 1) != 0) nums(i) else missing(NumKeys(i))
    def opt(i: Int, dflt: Long): Long = if ((seen >>> i & 1) != 0) nums(i) else dflt
    ManifestRow(req(0).toInt, req(1).toInt, req(2), req(3).toInt,
      req(4).toInt, req(5), req(6), req(7), req(8), req(9), req(10),
      if (minDoc != null) minDoc else missing("min_doc_id"),
      if (maxDoc != null) maxDoc else missing("max_doc_id"),
      opt(11, Int.MinValue).toInt, opt(12, Int.MaxValue).toInt,
      tokSet, srcStats, gen = opt(13, 0).toInt)
  }
}
