package graft.spark

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, SortDirection, SortOrder}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.engine.{ChunkSlicer, EngineFs, Lineage, MetaDict}

/** Group-based (copy-on-write) row-level operations — `UPDATE`, `MERGE
  * INTO`, and the DELETEs whose predicates `SupportsDelete` cannot take
  * (e.g. `DELETE ... WHERE array_contains(tokens, v)`). The GROUP is the
  * lineage partition. The contract is Iceberg's copy-on-write shape:
  *
  *   - the SCAN defines what is REMOVED: Spark's runtime group filtering
  *     (the row-level analog of DPP) runs the condition once, delivers
  *     the matching groups to the scan as an `In(_part_id)` runtime
  *     filter, and the scan reads the FULL content of exactly those
  *     partitions (an UPDATE touching one partition of a 100-TB table
  *     reads one partition);
  *   - the WRITE adds the replacement rows (survivors + updates + MERGE
  *     inserts) as FRESH partitions appended past every committed part
  *     id, staged invisibly and swapped in at driver commit;
  *   - commit order is add-then-retire: new partitions land first, then
  *     each scanned group is superseded by an empty next generation
  *     (`Lineage.swapInGroup`, the DELETE rewrite's atomic-rename
  *     discipline). A crash mid-commit leaves transient duplicates,
  *     never loss, under the engine's single-writer contract.
  *
  * The `_graft_buckets` SPJ marker is cleared unconditionally: survivors
  * move to fresh partition ids, so hash placement no longer holds (a
  * missing marker costs a shuffle; a wrong one drops join matches).
  * Rewritten chunks carry fresh zones/SrcStats, so every pushdown stays
  * exact afterward. Batch trees refuse row-level DML — committed batches
  * are immutable history under `untilBatch` snapshots. */
class GraftRowLevelOperation(path: String,
                             cmd: RowLevelOperation.Command)
    extends RowLevelOperation {
  // ONE builder, ONE scan: the write retires exactly the group set this
  // scan planned (post runtime filtering) — the Iceberg configured-scan
  // pattern. The group-filter subquery plans over the unwrapped table and
  // never reaches this builder.
  private var builder: GraftScanBuilder = _
  @volatile private[spark] var builtScan: GraftScan = _

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"graft copy-on-write $cmd"
  // _part_id must ride the rewrite relation's output so the group-filter
  // subquery can resolve the scan's filter attribute against it; Spark
  // projects it away before rows reach the write
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column("_part_id"))

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = synchronized {
    if (builder == null)
      builder = new GraftScanBuilder(path, options, rowLevel = true) {
        override def build(): Scan =
          GraftRowLevelOperation.this.synchronized {
            if (builtScan == null) builtScan = super.build() match {
              case g: GraftScan => g
              case other => throw new IllegalStateException(
                s"row-level rewrite scan must be the row scan, got $other")
            }
            builtScan
          }
      }
    builder
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        new GraftReplaceDataWrite(path, info.schema(),
          () => Option(builtScan))
    }
}

private[spark] case class GraftReplaceGroup(sparkPartition: Int,
                                            staged: String,
                                            rows: Seq[Lineage.ManifestRow])
private[spark] case class GraftReplaceCommitMessage(
    group: Option[GraftReplaceGroup]) extends WriterCommitMessage

class GraftReplaceDataWrite(path: String, schema: StructType,
                            scanRef: () => Option[GraftScan])
    extends Write with BatchWrite with RequiresDistributionAndOrdering {
  override def toBatch: BatchWrite = this
  override def description(): String = s"graft replace-data"

  // no distribution constraint (replacement rows land in fresh
  // partitions, one per incoming Spark partition); the usual in-partition
  // (source, doc_id) sort keeps chunk zones/SrcStats as tight as every
  // other writer's
  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution =
    org.apache.spark.sql.connector.distributions.Distributions.unspecified()
  override def requiredOrdering(): Array[SortOrder] = Array(
    Expressions.sort(Expressions.column("source"), SortDirection.ASCENDING),
    Expressions.sort(Expressions.column("doc_id"), SortDirection.ASCENDING))

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory = {
    val spark = SparkSession.active
    val fs = EngineFs.get(path,
      spark.sparkContext.hadoopConfiguration)
    // plain lineage tables only — a batch TREE's committed batches are
    // immutable history (untilBatch snapshots), the same refusal DELETE
    // makes
    require(fs.exists(new Path(s"$path/_lineage")),
      s"row-level DML needs a plain graft lineage table; $path has none " +
        "(streaming batch trees are immutable history)")
    def ord(n: String): Int = {
      val i = schema.fieldNames.indexOf(n)
      require(i >= 0, s"replace-data schema lacks $n: ${schema.sql}")
      i
    }
    new GraftReplaceWriterFactory(path,
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration),
      Lineage.sharedDictBytes(fs, path),
      ord("doc_id"), ord("tokens"), ord("n_tok"), ord("source"))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val fs = EngineFs.get(path,
      spark.sparkContext.hadoopConfiguration)
    val scan = scanRef().getOrElse(throw new IllegalStateException(
      "replace-data commit without the rewrite scan — nothing defines " +
        "the replaced group set"))
    val retired = scan.lastPlannedPartIds
    val groups = messages.collect {
      case GraftReplaceCommitMessage(Some(g)) => g
    }.sortBy(_.sparkPartition)
    // a dead prior commit's intent resolves first (roll forward/back) so
    // this listing sees a consistent table
    Lineage.recoverReplaceIntent(fs, path)
    // ONE listing drives every swap (a broad rewrite must not pay one
    // listing RPC per group): fresh pids don't collide with it and the
    // retired groups' generations are exactly its view
    val pidGens = Lineage.committedPidGens(fs, path)
    // fresh part ids strictly past everything committed: appended first
    // (add-then-retire — a crash mid-commit duplicates only TRANSIENTLY:
    // the intent below lets vacuum/the next commit finish the retirement)
    val base = pidGens.map(_._1).maxOption.map(_ + 1).getOrElse(0)
    val freshPids = groups.indices.map(base + _)
    // persisted intent BEFORE the first swap: recovery can then prove
    // whether the adds completed (all fresh pids committed -> finish
    // retiring) or not (roll the landed fresh pids back)
    if (freshPids.nonEmpty || retired.nonEmpty)
      Lineage.writeReplaceIntent(fs, path, freshPids, retired.toSeq.sorted)
    groups.zipWithIndex.foreach { case (g, i) =>
      Lineage.swapInGroup(fs, path, base + i, Some(g.staged), g.rows,
        Some(pidGens))
    }
    // retire every scanned group: its surviving rows now live in the
    // fresh partitions; an empty next generation supersedes it
    retired.toSeq.sorted.foreach { pid =>
      Lineage.swapInGroup(fs, path, pid, None, Seq.empty, Some(pidGens))
    }
    if (freshPids.nonEmpty || retired.nonEmpty)
      Lineage.clearReplaceIntent(fs, path)
    // survivors moved partitions: hash placement no longer holds
    Lineage.clearBucketMarker(fs, path)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = EngineFs.get(path,
      SparkSession.active.sparkContext.hadoopConfiguration)
    messages.collect { case GraftReplaceCommitMessage(Some(g)) => g }
      .foreach(g => fs.delete(new Path(g.staged), false))
  }
}

class GraftReplaceWriterFactory(dir: String, conf: SerializableConfiguration,
                                dict: Option[Array[Byte]],
                                docIdOrd: Int, toksOrd: Int, nTokOrd: Int,
                                srcOrd: Int)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int,
                            taskId: Long): DataWriter[InternalRow] =
    new GraftReplaceWriter(dir, conf.value, partitionId, taskId, dict,
      docIdOrd, toksOrd, nTokOrd, srcOrd)
}

/** Stages ONE replacement partition per Spark input partition; nothing is
  * visible until the driver swap. Chunks are sliced by the ChunkSlicer at
  * the default token budget; the staged chunks carry a placeholder part id
  * — the manifest stamps the real one at commit. */
class GraftReplaceWriter(dir: String, conf: Configuration, partitionId: Int,
                         taskId: Long, dictBytes: Option[Array[Byte]],
                         docIdOrd: Int, toksOrd: Int, nTokOrd: Int,
                         srcOrd: Int)
    extends DataWriter[InternalRow] {
  private val fs =
    EngineFs.get(dir, conf)
  private val stager = new Lineage.GroupStager(fs, dir, partitionId,
    s"$taskId-${java.util.UUID.randomUUID()}")
  private val slicer = new ChunkSlicer(partitionId,
    ChunkSlicer.DefaultChunkTokens, dictBytes.map(MetaDict.fromBytes).orNull)

  override def write(row: InternalRow): Unit = {
    if (slicer.full) stager.add(slicer.take())
    if (row.isNullAt(docIdOrd) || row.isNullAt(toksOrd) ||
        row.isNullAt(nTokOrd) || row.isNullAt(srcOrd))
      throw new IllegalArgumentException(
        "graft replace-data: doc_id, tokens, n_tok and source must be " +
          "non-null (did an UPDATE SET or MERGE action write a null?)")
    val arr = row.getArray(toksOrd).toIntArray()
    val n = row.getInt(nTokOrd)
    require(n == arr.length,
      s"row ${row.getUTF8String(docIdOrd)}: n_tok $n != tokens.length " +
        s"${arr.length} (an UPDATE that changes tokens must keep n_tok " +
        "consistent)")
    slicer.add(row.getUTF8String(docIdOrd).toString,
      row.getUTF8String(srcOrd).toString, arr)
  }

  override def commit(): WriterCommitMessage = {
    if (slicer.nonEmpty) stager.add(slicer.take())
    GraftReplaceCommitMessage(stager.finish().map { case (staged, rows) =>
      GraftReplaceGroup(partitionId, staged, rows)
    })
  }
  override def abort(): Unit = stager.abort()
  override def close(): Unit = ()
}
