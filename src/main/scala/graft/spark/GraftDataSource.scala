package graft.spark

import java.util
import java.util.OptionalLong

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.engine.{ChunkBuilder, EncoderConfig, Lineage, MetaDict, SeqRow, TokenSketch}

/** `spark.read.format("graft").load(dir)` — a DataSourceV2 reader over a
  * lineage table dir, making the engine's storage a first-class Spark
  * source (the idiomatic analog of the reference being importable as a
  * library, `import pyppmd`):
  *
  *  - one InputPartition per CHUNK (Spark schedules chunks across the
  *    cluster — the threaded-decoder recast at source granularity);
  *  - doc_id predicates push into MANIFEST zone-map pruning at planning
  *    time: an equality/range lookup plans only the overlapping chunks,
  *    reading the (possibly parquet-compacted) manifest, never the data;
  *    all predicates are also left as residuals, so row-level semantics
  *    are exactly Spark's;
  *  - column pruning has TEETH: a projection without `tokens` decodes only
  *    the few-KB meta sections per chunk — the compressed payload is never
  *    touched (a per-source rollup over 100 TB reads ~0.1% of the bytes);
  *  - the scan reports MANIFEST-EXACT statistics (rows + bytes), so a
  *    small graft table on the build side of a join plans BroadcastHashJoin
  *    instead of defaulting to a sort-merge;
  *  - global aggregates the manifest already answers — count(*)/count(col)
  *    (all columns non-null), min/max(doc_id), sum(n_tok) — push down
  *    COMPLETELY: the query executes without opening a single chunk
  *    (the analog of answering from framing, not data — the reference's
  *    chunked protocol reads lengths without touching payload bytes,
  *    `tests/test_ppmd7.py:95-146`);
  *  - a token-containment probe (`option("containsToken", v)`, or
  *    `array_contains(tokens, v)` folded in by GraftExtensions'
  *    PushTokenContains rule) prunes chunks through the manifest's
  *    [min_tok, max_tok] zone map AND the per-chunk TokenSketch;
  *  - driver-side planning is BOUNDED: trees whose surviving chunk count
  *    exceeds `graft.plan.maxChunks` fail loudly instead of OOMing the
  *    driver;
  *  - the dir's shared meta dictionary rides into every partition reader.
  */
class GraftDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftTable.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val path = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft source needs a path: spark.read.format(\"graft\").load(dir)"))
    new GraftTable(path)
  }
}

object GraftTable {
  val Schema: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("tokens", ArrayType(IntegerType, containsNull = false),
      nullable = false),
    StructField("n_tok", IntegerType, nullable = false),
    StructField("source", StringType, nullable = false)))

  /** Row provenance as DSv2 metadata columns — `SELECT doc_id, _chunk_id
    * FROM t` answers "which chunk/partition/generation does this row live
    * in" without any side lookup (the audit question a 100-TB takedown or
    * corruption triage asks first). Hidden from `SELECT *`; values are
    * per-chunk constants the reader stamps from the manifest row it is
    * already holding — zero extra I/O. */
  private final class MetaCol(n: String, dt: org.apache.spark.sql.types.DataType,
                              desc: String)
      extends org.apache.spark.sql.connector.catalog.MetadataColumn {
    override def name(): String = n
    override def dataType(): org.apache.spark.sql.types.DataType = dt
    override def isNullable: Boolean = false
    override def comment(): String = desc
  }
  val MetaCols: Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      new MetaCol("_part_id", IntegerType, "lineage partition id"),
      new MetaCol("_chunk_id", org.apache.spark.sql.types.LongType,
        "chunk id within the table"),
      new MetaCol("_gen", IntegerType,
        "partition rewrite generation (0 until a DELETE rewrites it)"))
  /** Reader ordinals for the metadata columns (base columns are 0-3). */
  private[spark] val MetaOrdinal: Map[String, Int] =
    Map("_part_id" -> 4, "_chunk_id" -> 5, "_gen" -> 6)
}

class GraftTable(path: String) extends Table
    with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    GraftTable.MetaCols
  override def name(): String = s"graft:$path"
  override def schema(): StructType = GraftTable.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(path, options)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(path, info)
  // DELETE FROM ... WHERE ...: copy-on-write over the lineage dir — see
  // GraftDelete (classification) and Lineage.deleteRewrite (generational
  // per-partition rewrite, atomic at the manifest rename). Spark rewrites
  // every DML statement through the row-level plan first and then
  // OptimizeMetadataOnlyDeleteFromTable converts a DELETE back to this
  // fast path whenever canDeleteWhere accepts the predicates.
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    GraftDelete.deletable(filters)
  override def deleteWhere(filters: Array[Filter]): Unit = {
    GraftDelete.run(SparkSession.active, path, filters): Unit
  }
  // UPDATE / MERGE INTO / arbitrary-predicate DELETE: group-based
  // copy-on-write rewrite, group = lineage partition (GraftRowLevel.scala)
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => new GraftRowLevelOperation(path, info.command)
}

/** Which manifest-only aggregates a pushed Aggregation wants, in output
  * order. All four graft columns are non-null, so count(col) == count(*). */
private[spark] sealed trait GraftAggCol
private[spark] case object AggCountRows extends GraftAggCol
private[spark] case object AggMinDocId extends GraftAggCol
private[spark] case object AggMaxDocId extends GraftAggCol
private[spark] case object AggSumNTok extends GraftAggCol

class GraftScanBuilder(path: String, options: CaseInsensitiveStringMap,
                       rowLevel: Boolean = false)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTableSample {
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = GraftTable.Schema
  private var limit: Option[Int] = None
  private var aggCols: Option[Seq[GraftAggCol]] = None
  private var aggGrouped: Boolean = false
  private var sample: Option[GraftSample] = None

  /** Pushed TABLESAMPLE (`df.sample(f, seed)` / `TABLESAMPLE (f PERCENT)
    * REPEATABLE(seed)`): Bernoulli, seed-deterministic (GraftSample), with
    * whole-chunk skips in the reader when no row of a chunk is selected.
    * Refused with replacement (not Bernoulli), and never combined with a
    * pushed aggregate or limit in EITHER order — a manifest-only count
    * over a sampled scan would return the unsampled answer. */
  override def pushTableSample(lowerBound: Double, upperBound: Double,
                               withReplacement: Boolean,
                               seed: Long): Boolean = {
    if (withReplacement || aggCols.isDefined || limit.isDefined) false
    else { sample = Some(GraftSample(lowerBound, upperBound, seed)); true }
  }
  // out-of-band containment predicate: "only rows whose tokens contain v"
  // (exact — the reader filters rows, the planner prunes chunks)
  private val probes: Array[Int] =
    Option(options.get("containstoken")).toArray
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).map { v =>
        require(v.toIntOption.isDefined,
          s"containsToken must be int token ids (comma-separated), got '$v'")
        v.toInt
      }
  private val maxBatchesPerTrigger: Option[Int] =
    Option(options.get("maxbatchespertrigger")).map { s =>
      val n = s.toInt
      require(n > 0, s"maxBatchesPerTrigger must be positive, got $n")
      n
    }
  // time travel over a batch tree: read only batches numbered <= n — an
  // append-only tree makes "the corpus as of batch n" a pure filter
  private val untilBatch: Option[Long] =
    Option(options.get("untilbatch")).map { v =>
      require(v.toLongOption.isDefined && v.toLong >= 0,
        s"untilBatch must be a non-negative batch number, got '$v'")
      v.toLong
    }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // doc_id comparisons prune CHUNKS via the manifest zone map; rows still
    // need the exact predicate, so EVERY filter is also returned as a
    // residual for Spark to evaluate (chunk pruning is an optimization,
    // never a semantics change)
    pushed = filters.filter {
      case EqualTo("doc_id", _: String)            => true
      case GreaterThan("doc_id", _: String)        => true
      case GreaterThanOrEqual("doc_id", _: String) => true
      case LessThan("doc_id", _: String)           => true
      case LessThanOrEqual("doc_id", _: String)    => true
      case In("doc_id", vs)                        =>
        vs.nonEmpty && vs.forall(_.isInstanceOf[String])
      case _                                       => false
    }
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // Spark only pushes a limit when no residual filter sits between it and
  // the scan; we additionally refuse under a containment probe (the reader
  // drops rows the planner can't count). Partial push: Spark keeps the
  // global Limit, we just stop planning chunks past it.
  override def pushLimit(n: Int): Boolean =
    if (probes.isEmpty && pushed.isEmpty && sample.isEmpty) {
      limit = Some(n); true
    } else false
  override def isPartiallyPushed: Boolean = true

  /** Translate an Aggregation into manifest-only answers, or None.
    * GLOBAL aggregates over count/min-doc/max-doc/sum-n_tok come from
    * chunk framing alone; `GROUP BY source` aggregates over count/sum-n_tok
    * come from the manifest's per-chunk SrcStats blobs (min/max doc_id per
    * SOURCE is not recorded — chunk zone maps are chunk-global — so those
    * fall back to the normal scan). Anything else falls back too. A
    * containment probe blocks pushdown (the manifest counts rows the probe
    * would drop). Returns (groupedBySource, agg columns). */
  private def translate(agg: Aggregation): Option[(Boolean, Seq[GraftAggCol])] = {
    // a pushed sample blocks aggregate pushdown: the manifest counts ALL
    // rows — a manifest-only count over a sampled scan would silently
    // return the unsampled answer
    if (probes.nonEmpty || pushed.nonEmpty || sample.isDefined) return None
    def col1(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case nr: NamedReference if nr.fieldNames.length == 1 =>
          Some(nr.fieldNames()(0))
        case _ => None
      }
    val grouped = agg.groupByExpressions.toSeq match {
      case Seq() => false
      case Seq(g) if col1(g).contains("source") => true
      case _ => return None
    }
    val cols = agg.aggregateExpressions.map {
      case _: CountStar => Some(AggCountRows)
      case c: Count if !c.isDistinct &&
          col1(c.column).exists(GraftTable.Schema.fieldNames.contains) =>
        Some(AggCountRows) // every graft column is non-null
      case m: Min if !grouped && col1(m.column).contains("doc_id") =>
        Some(AggMinDocId)
      case m: Max if !grouped && col1(m.column).contains("doc_id") =>
        Some(AggMaxDocId)
      case s: Sum if !s.isDistinct && col1(s.column).contains("n_tok") =>
        Some(AggSumNTok)
      case _ => None
    }
    if (cols.forall(_.isDefined)) Some((grouped, cols.flatten.toSeq)) else None
  }
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    translate(agg).isDefined
  override def pushAggregation(agg: Aggregation): Boolean = {
    translate(agg) match {
      case Some((grouped, cols)) =>
        aggCols = Some(cols); aggGrouped = grouped; true
      case None => false
    }
  }

  override def build(): Scan = aggCols match {
    case Some(cols) if aggGrouped =>
      new GraftSourceAggScan(path, cols, untilBatch)
    case Some(cols) => new GraftAggScan(path, cols, untilBatch)
    case None =>
      new GraftScan(path, pushed, required, probes, limit,
        maxBatchesPerTrigger, untilBatch, sample, rowLevel)
  }
}

class GraftScan(path: String, pushed: Array[Filter], required: StructType,
                tokenProbes: Array[Int], limit: Option[Int],
                maxBatchesPerTrigger: Option[Int],
                untilBatch: Option[Long] = None,
                sample: Option[GraftSample] = None,
                rowLevel: Boolean = false)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering with SupportsReportPartitioning {

  // ---- runtime (DPP-style) filtering -------------------------------------
  // a broadcast join against a filtered dimension delivers the dim's
  // doc_id set here at EXECUTION time; chunks whose [min,max] zone holds
  // none of those ids are dropped before any task launches — partition
  // pruning for an equi-join, the way file sources prune partitions
  @volatile private var runtime: Array[Filter] = Array.empty
  @volatile private[spark] var lastPlannedChunks: Int = -1 // spec observability
  // the groups (lineage partitions) the LAST planning pass covered, post
  // runtime filtering — the row-level (UPDATE/MERGE/DELETE rewrite) write
  // replaces exactly this set
  @volatile private[spark] var lastPlannedPartIds: Set[Int] = Set.empty
  // Normal reads runtime-filter on doc_id (join DPP). A ROW-LEVEL rewrite
  // scan filters on _part_id instead: Spark's runtime GROUP filtering runs
  // the condition once and delivers the matching groups here, so only
  // affected partitions are read and rewritten — and NOT doc_id, because a
  // broad UPDATE's distinct-doc_id IN-set could be the whole table while
  // the group set stays small
  override def filterAttributes(): Array[NamedReference] =
    if (rowLevel)
      Array(org.apache.spark.sql.connector.expressions.Expressions
        .column("_part_id"))
    else
      Array(org.apache.spark.sql.connector.expressions.Expressions
        .column("doc_id"))
  override def filter(filters: Array[Filter]): Unit = runtime = filters

  /** Zone-test the runtime filters against one chunk. Unknown filter
    * shapes keep the chunk (pruning is an optimization — the join itself
    * enforces exact semantics). */
  private def runtimeAdmits(m: Lineage.ManifestRow,
                            sortedIn: Map[Int, IndexedSeq[String]]): Boolean =
    runtime.indices.forall { i =>
      runtime(i) match {
        case In("_part_id", vs) => // exact group test, not a zone bound
          vs.exists {
            case n: Number => n.intValue == m.part_id
            case _ => true // unknown element shape: keep (never prune blind)
          }
        case EqualTo("_part_id", v: Number) => v.intValue == m.part_id
        case In("doc_id", _) =>
          ZonePrune.anyInRange(sortedIn(i), m.min_doc_id, m.max_doc_id)
        case EqualTo("doc_id", v: String) =>
          graft.engine.Utf8Order.lte(m.min_doc_id, v) &&
            graft.engine.Utf8Order.gte(m.max_doc_id, v)
        // range shapes, zone-tested in the same UTF-8 binary order the
        // static pushdown path uses (prunedManifest): a range-filtered
        // dimension prunes chunks at runtime too, not only IN-sets
        case GreaterThan("doc_id", v: String) =>
          graft.engine.Utf8Order.gt(m.max_doc_id, v)
        case GreaterThanOrEqual("doc_id", v: String) =>
          graft.engine.Utf8Order.gte(m.max_doc_id, v)
        case LessThan("doc_id", v: String) =>
          graft.engine.Utf8Order.lt(m.min_doc_id, v)
        case LessThanOrEqual("doc_id", v: String) =>
          graft.engine.Utf8Order.lte(m.min_doc_id, v)
        case _ => true
      }
    }
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def toMicroBatchStream(
      checkpointLocation: String): streaming.MicroBatchStream = {
    // a silently ignored snapshot bound would read as "stream the whole
    // tree" — refuse instead (AvailableNow + retention cover bounded reads)
    require(untilBatch.isEmpty,
      "untilBatch is a BATCH-read snapshot option; the incremental stream " +
        "has its own frontier semantics")
    require(sample.isEmpty,
      "TABLESAMPLE is a batch-read pushdown; sample the stream with " +
        "Spark's own operator")
    new GraftMicroBatchStream(path, pushed, required, tokenProbes,
      maxBatchesPerTrigger)
  }
  override def description(): String =
    s"graft:$path prunedFilters=[${pushed.mkString(", ")}] " +
      s"columns=[${required.fieldNames.mkString(", ")}]" +
      (if (tokenProbes.isEmpty) "" else s" containsToken=${tokenProbes.mkString(",")}") +
      limit.fold("")(n => s" limit=$n") +
      untilBatch.fold("")(n => s" untilBatch=$n") +
      sample.fold("")(s => s" sample=[${s.lower},${s.upper}) seed=${s.seed}") +
      (if (rowLevel) " rowLevel=true" else "")

  // ONE (bounded) driver-side planning pass, shared by estimateStatistics
  // (optimization time) and planInputPartitions (physical planning): dirs
  // resolved, manifests unioned and zone-map/sketch pruned in one Spark job
  private lazy val resolvedDirs: Seq[String] =
    GraftPlanning.resolveReadDirs(SparkSession.active, path, untilBatch)
  private lazy val planned: Array[(String, Lineage.ManifestRow)] = {
    val pruned = GraftPlanning.prunedManifest(SparkSession.active,
      resolvedDirs, pushed, tokenProbes)
    // ROW-LEVEL rewrite scans (UPDATE/MERGE/DELETE copy-on-write): pushed
    // filters may prune at GROUP granularity ONLY — the scan's output IS
    // the replacement content of every group it keeps, so dropping an
    // unmatching chunk of a kept group would silently delete its rows.
    // Expand the chunk-pruned set back to FULL groups: a group survives
    // pruning iff any of its chunks admitted the filters. With no pushed
    // filters and no probes, `pruned` IS the full manifest by construction
    // — skip the second (full, unpruned) planning pass entirely instead of
    // computing it just to compare lengths.
    if (!rowLevel || (pushed.isEmpty && tokenProbes.isEmpty) ||
        pruned.length == plannedAll.length) pruned
    else {
      val keep = pruned.iterator.map { case (d, m) => (d, m.part_id) }.toSet
      plannedAll.filter { case (d, m) => keep((d, m.part_id)) }
    }
  }
  // the unpruned manifest (row-level group expansion needs the full
  // chunk set of admitted groups; lazily read only when pruning bit)
  private lazy val plannedAll: Array[(String, Lineage.ManifestRow)] =
    GraftPlanning.prunedManifest(SparkSession.active, resolvedDirs,
      Array.empty, Array.empty)

  /** Storage-partitioned-join eligibility: Some(n) when EVERY dir this scan
    * covers carries a valid `_graft_buckets` layout marker with the SAME n
    * (a marker is written only by writers that produced the
    * pmod(murmur3_42(doc_id), n) layout — see Lineage.writeBucketMarker) and
    * the session OPTED IN via `graft.read.spj=true` (plus Spark's own
    * `spark.sql.sources.v2.bucketing.enabled`, default-on in Spark 4).
    * Opt-in (default FALSE) is deliberate and mirrors Iceberg's
    * `preserve-data-grouping`: reporting KeyGroupedPartitioning makes Spark
    * GROUP same-bucket tasks, capping scan parallelism at the bucket count —
    * the right trade under a doc_id join (it deletes both shuffles), the
    * wrong one for a plain scan of a 4-bucket table on a 1000-core cluster.
    * Under a pushed limit the scan plans a chunk PREFIX, not a
    * bucket-complete set — no SPJ there. */
  private lazy val bucketing: Option[Int] = {
    val spark = SparkSession.active
    val enabled =
      spark.conf.get("graft.read.spj", "false").toBoolean &&
      spark.conf.get("spark.sql.sources.v2.bucketing.enabled").toBoolean &&
      limit.isEmpty && resolvedDirs.nonEmpty
    if (!enabled) None
    else {
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path),
        spark.sparkContext.hadoopConfiguration)
      val ns = resolvedDirs.map(d => Lineage.readBucketMarker(fs, d))
      if (ns.forall(_.isDefined) && ns.flatten.distinct.size == 1) ns.head
      else None
    }
  }

  /** Report the arranged layout as KeyGroupedPartitioning over
    * `bucket(n, doc_id)` — the transform the graft catalog's FunctionCatalog
    * resolves — so Spark plans joins between same-n graft tables WITHOUT
    * exchanges (and, with v2.bucketing.shuffle.enabled, shuffles a non-graft
    * side straight into this bucketing). Only catalog-resolved tables get
    * this far: path-based relations carry no FunctionCatalog, and Spark
    * drops an unresolvable report harmlessly. */
  override def outputPartitioning():
      org.apache.spark.sql.connector.read.partitioning.Partitioning =
    bucketing match {
      case Some(n) =>
        val keys = planned.iterator.map { case (_, m) => m.part_id % n }
          .toSet
        if (keys.isEmpty)
          new org.apache.spark.sql.connector.read.partitioning
            .UnknownPartitioning(0)
        else new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(
            Array(org.apache.spark.sql.connector.expressions.Expressions
              .bucket(n, "doc_id")),
            keys.size)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(0)
    }
  private lazy val dicts: Map[String, Option[Array[Byte]]] =
    GraftPlanning.dictsFor(SparkSession.active,
      planned.iterator.map(_._1).toSet)

  /** Manifest-exact table statistics. numRows is exact for an unpruned
    * scan and an upper bound under pruning (residual filters may drop
    * more); sizeInBytes estimates the DECODED in-memory footprint of the
    * projected columns — raw token bytes are exact (4·n_tokens), strings
    * are bounded via the zone-map id lengths. Erring high is safe (a too-
    * small estimate broadcasts a table that doesn't fit). */
  override def estimateStatistics(): Statistics = {
    val want = required.fieldNames.toSet
    var rows = 0L
    var bytes = 0L
    planned.foreach { case (_, m) =>
      rows += m.n_rows
      var b = 8L * m.n_rows // row object overhead
      if (want("tokens")) b += m.raw_bytes + 16L * m.n_rows
      if (want("doc_id"))
        b += (math.max(m.min_doc_id.length, m.max_doc_id.length) + 24L) * m.n_rows
      if (want("source")) b += 32L * m.n_rows
      if (want("n_tok")) b += 4L * m.n_rows
      bytes += b
    }
    // a pushed TABLESAMPLE keeps an expected (upper-lower) share of every
    // row independently: scale both estimates so a sampled big table can
    // BROADCAST — the whole point of sampling it (still errs high: ceil,
    // and the per-row overheads above already over-estimate)
    val frac = sample.map(s => s.upper - s.lower).getOrElse(1.0)
    new Statistics {
      override def sizeInBytes(): OptionalLong =
        OptionalLong.of(math.ceil(bytes * frac).toLong.max(1L))
      override def numRows(): OptionalLong =
        OptionalLong.of(math.ceil(rows * frac).toLong)
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    // pushed LIMIT n (only ever set with no filters and no probe): plan
    // chunks in deterministic manifest order until their row counts cover
    // n — a limit 10 over a million-chunk table plans one chunk. Spark
    // applies the exact global limit on top (partial pushdown).
    // runtime (DPP) filters first: sort each IN-set once, zone-test chunks
    val afterRuntime =
      if (runtime.isEmpty) planned
      else {
        val sortedIn: Map[Int, IndexedSeq[String]] =
          runtime.indices.collect {
            case i if runtime(i).isInstanceOf[In] =>
              i -> ZonePrune.sortValues(runtime(i).asInstanceOf[In].values
                .collect { case s: String => s })
          }.toMap
        planned.filter { case (_, m) => runtimeAdmits(m, sortedIn) }
      }
    val rows = limit match {
      case Some(n) =>
        val ordered = afterRuntime.sortBy { case (d, m) => (d, m.part_id, m.seq) }
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(String, Lineage.ManifestRow)]
        var cum = 0L
        val it = ordered.iterator
        while (cum < n && it.hasNext) {
          val e = it.next(); out += e; cum += e._2.n_rows
        }
        out.toArray
      case None => afterRuntime
    }
    lastPlannedChunks = rows.length
    lastPlannedPartIds = rows.iterator.map(_._2.part_id).toSet
    bucketing match {
      case Some(n) =>
        GraftPlanning.packBucketed(SparkSession.active, rows, dicts,
          tokenProbes, n, sample)
      case None =>
        GraftPlanning.pack(SparkSession.active, rows, dicts, tokenProbes,
          sample)
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(
      new SerializableConfiguration(
        SparkSession.active.sparkContext.hadoopConfiguration),
      required,
      SparkSession.active.conf.get("graft.read.columnar", "true").toBoolean)
}

/** One scheduled task = MANY chunks (same dir, manifest-ordered so chunks
  * of one part file read sequentially). One-task-per-chunk does not
  * survive scale: 100 TB is ~100M chunks, and even locally the per-task
  * overhead (~1 ms) dwarfed the decode once chunk counts hit the
  * thousands. Packing follows Spark's own FilePartition policy. */
/** Pushed TABLESAMPLE: Bernoulli row selection as a PURE FUNCTION of
  * (chunk_id, row index, seed) — no RNG state, so the sample is
  * byte-identical at any parallelism, task packing, or re-run, and a
  * chunk whose rows are ALL unselected is provably skippable before any
  * I/O (computable from the manifest's chunk_id + n_rows alone). */
final case class GraftSample(lower: Double, upper: Double, seed: Long) {
  def selected(chunkId: Long, rowIdx: Int): Boolean = {
    // splitmix64 over the three identities -> uniform double in [0, 1)
    var z = chunkId ^ (rowIdx.toLong * 0x9E3779B97F4A7C15L) ^
      java.lang.Long.rotateLeft(seed, 17)
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    val u = (z >>> 11).toDouble / (1L << 53).toDouble
    u >= lower && u < upper
  }
  /** Any selected row in a chunk of n rows? ~ns per row; lets the reader
    * skip whole chunks without opening them (at fraction f and chunk size
    * n, a share (1-f)^n of the table's chunks is never read at all). */
  def anySelected(chunkId: Long, nRows: Int): Boolean = {
    var r = 0
    while (r < nRows) { if (selected(chunkId, r)) return true; r += 1 }
    false
  }
}

case class GraftInputPartition(dir: String, rows: Array[Lineage.ManifestRow],
                               dict: Option[Array[Byte]],
                               probes: Array[Int] = Array.empty,
                               sample: Option[GraftSample] = None)
    extends InputPartition

/** The same task payload, carrying the bucket identity that makes it
  * key-groupable: emitted instead of the plain partition when the table's
  * `_graft_buckets` layout marker is valid and the session has
  * `spark.sql.sources.v2.bucketing.enabled`. Spark groups same-key
  * partitions (across batch dirs of a tree too) into one task group, which
  * is what lets two same-n graft tables join on doc_id with zero shuffle. */
final case class GraftBucketedInputPartition(p: GraftInputPartition,
                                             bucket: Int)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucket))
}

/** Zone-map interval tests shared by static and runtime doc_id pruning.
  * ALL comparisons run in UTF-8 BINARY order (graft.engine.Utf8Order) —
  * the order ChunkBuilder computed min/max_doc_id in and the order Spark's
  * UTF8String comparisons use. Java String (UTF-16) order diverges for
  * supplementary-plane characters, and a divergent prune is silent ROW
  * LOSS (a pruned chunk is unrecoverable by the residual filter). */
private[spark] object ZonePrune {
  import graft.engine.Utf8Order

  /** Sort values for anyInRange: MUST be this order, not String's. */
  def sortValues(vs: Seq[String]): IndexedSeq[String] =
    vs.sortWith(Utf8Order.lt(_, _)).toIndexedSeq

  /** Does any of `sorted` (ascending in UTF-8 order, via sortValues) fall
    * inside [min, max]? Binary search for the first value >= min, then one
    * compare — O(log n) per chunk even for the large IN-sets runtime (DPP)
    * filters deliver. */
  def anyInRange(sorted: IndexedSeq[String], min: String,
                 max: String): Boolean = {
    var lo = 0
    var hi = sorted.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (Utf8Order.lt(sorted(mid), min)) lo = mid + 1 else hi = mid
    }
    lo < sorted.length && Utf8Order.lte(sorted(lo), max)
  }
}

/** Driver-side manifest cache, the graft analog of Spark's file-source
  * FileStatusCache: planning re-reads the same manifest for every query on
  * a table (a Spark job each — listing + parquet/JSON read + collect,
  * ~0.3-0.6 s of fixed overhead even for a 30-chunk table). Entries are
  * validated per lookup against the manifest LISTING marker (name+size
  * fingerprint — the same currency token the parquet-manifest compaction
  * uses), so an append, re-encode, or new streaming batch is seen by the
  * very next query; one listStatus RPC per dir per query is the entire
  * coherence cost. Bounded two ways: a dir whose listed manifest bytes
  * exceed `graft.plan.localManifestBytes` is never read driver-side
  * (planning stays distributed — the 100-TB path), and cached entries are
  * LRU-evicted past `graft.plan.cacheBytes` of estimated row bytes. Entries
  * of deleted tables do not wait for eviction: each insert drops the
  * entries whose `_lineage` dir is gone, and `GraftCatalog.dropTable`
  * invalidates the dropped table's entries. */
private[spark] object ManifestCache {
  private final class Entry(val marker: String,
                            val rows: Array[Lineage.ManifestRow],
                            val bytes: Long) {
    @volatile var tick: Long = 0L
  }
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Entry]()
  private val ticks = new java.util.concurrent.atomic.AtomicLong()

  private def estBytes(rows: Array[Lineage.ManifestRow]): Long =
    rows.foldLeft(0L)((a, m) => a + 160L + m.min_doc_id.length +
      m.max_doc_id.length + m.tok_set.length + m.src_stats.length)

  /** Marker-validated rows for one dir; a miss reads driver-locally when
    * the manifest listing fits `localMax` bytes. None = too big for the
    * local path — the caller plans distributed. */
  def rowsFor(spark: SparkSession, dir: String): Option[Array[Lineage.ManifestRow]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def confBytes(key: String, dflt: Long): Long =
      spark.conf.get(key, dflt.toString).toLongOption.getOrElse(
        throw new IllegalArgumentException(s"$key must be a byte count"))
    val localMax = confBytes("graft.plan.localManifestBytes", 16L << 20)
    val budget = confBytes("graft.plan.cacheBytes", 256L << 20)
    if (localMax <= 0) return None
    // ONE listing serves both the coherence check and the size gate
    val hit = cache.get(dir)
    val (marker, read) =
      if (hit != null) {
        // cheap path first: marker-only listing; re-read only on mismatch
        val (mk, _) = Lineage.readManifestLocal(conf, dir, -1L)
        if (mk == hit.marker) { hit.tick = ticks.incrementAndGet(); return Some(hit.rows) }
        Lineage.readManifestLocal(conf, dir, localMax)
      } else Lineage.readManifestLocal(conf, dir, localMax)
    read match {
      case None => cache.remove(dir); None // grew past the local gate
      case Some(rows) =>
        val e = new Entry(marker, rows, estBytes(rows))
        if (budget > 0 && e.bytes <= budget / 2) {
          e.tick = ticks.incrementAndGet()
          dropDeleted(conf)
          cache.put(dir, e)
          evictTo(budget)
        } else cache.remove(dir)
        Some(rows)
    }
  }

  private def evictTo(budget: Long): Unit = synchronized {
    import scala.jdk.CollectionConverters._
    var total = cache.values.asScala.iterator.map(_.bytes).sum
    while (total > budget && !cache.isEmpty) {
      val lru = cache.entrySet().asScala.minBy(_.getValue.tick)
      cache.remove(lru.getKey)
      total -= lru.getValue.bytes
    }
  }

  /** Drops the entries whose table no longer has a `_lineage` dir. */
  private def dropDeleted(conf: org.apache.hadoop.conf.Configuration): Unit =
    cache.keySet.forEach { d =>
      val p = new org.apache.hadoop.fs.Path(s"$d/_lineage")
      if (!p.getFileSystem(conf).exists(p)) cache.remove(d)
    }

  /** Drops the entries of `dir` and of the batch dirs under it. */
  def invalidate(dir: String): Unit =
    cache.keySet.removeIf(d => d == dir || d.startsWith(dir + "/"))

  private[spark] def clear(): Unit = cache.clear() // specs
  private[spark] def cachedDirs: Set[String] = { // specs
    import scala.jdk.CollectionConverters._
    cache.keySet.asScala.toSet
  }
}

/** One copy of dir-level planning (dir resolution, manifest load, zone-map
  * + sketch pruning, dict pickup) shared by the batch scan, the aggregate
  * scan, and the micro-batch stream. */
private[spark] object GraftPlanning {
  import org.apache.spark.sql.functions.col

  /** The lineage dirs a batch read of `path` covers: the dir itself when
    * it is a plain lineage table, else the VISIBLE batches of a tree
    * (READY-marked only when the tree is marker-aware — an in-flight
    * half-written batch, even the very first one, is invisible to batch
    * reads too; marker-less at-rest trees read in full). */
  def resolveReadDirs(spark: SparkSession, path: String,
                      untilBatch: Option[Long] = None): Seq[String] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$path/_lineage"))) {
      // a plain table has no batch numbers: a snapshot bound here would be
      // silently meaningless — refuse, like the streaming path does
      require(untilBatch.isEmpty,
        s"untilBatch is a batch-TREE snapshot option; $path is a plain " +
          "lineage table")
      Seq(path)
    } else {
      val visible = Lineage.visibleBatchDirs(spark, path)
      if (visible.isEmpty && Lineage.batchDirs(spark, path).isEmpty &&
          !Lineage.isStreamTree(spark, path))
        throw new IllegalArgumentException(
          s"$path holds neither a lineage table (_lineage/) nor batch=N " +
            "subdirectories")
      // time travel: "the corpus as of batch n" (ONE copy of the cut — a
      // second scan variant resolving dirs itself was exactly how count(*)
      // once ignored the bound)
      untilBatch match {
        case Some(n) =>
          // an UNNUMBERED batch dir (manual layouts can contain them) has
          // no position in the snapshot order — "as of batch n" over it
          // would silently include unordered data; refuse loudly, like the
          // stream reader does
          val unnumbered =
            visible.filter(d => Lineage.batchNumber(d).isEmpty)
          require(unnumbered.isEmpty,
            s"untilBatch=$n snapshot over $path: batch dir(s) without a " +
              s"batch number have no snapshot position: " +
              unnumbered.mkString(", "))
          visible.filter(d => Lineage.batchNumber(d).exists(_ <= n))
        case None => visible
      }
    }
  }

  /** All dirs' manifest rows via the driver-side cache, or None if ANY dir
    * is past the local-read gate (then the whole plan goes distributed —
    * mixing the two paths per dir would complicate nothing into little). */
  def localManifests(spark: SparkSession, dirs: Seq[String])
      : Option[Seq[(String, Array[Lineage.ManifestRow])]] = {
    val out = dirs.map(d => d -> ManifestCache.rowsFor(spark, d))
    if (out.forall(_._2.isDefined)) Some(out.map { case (d, r) => d -> r.get })
    else None
  }

  /** One dir's manifest as a Dataset: from the driver cache when small
    * (no file listing or parquet/JSON scan inside the job), else the
    * distributed read. The AGGREGATE scans run their pipelines over this,
    * so the cached and distributed answers share every line of agg code. */
  def manifestDS(spark: SparkSession,
                 dir: String): org.apache.spark.sql.Dataset[Lineage.ManifestRow] =
    ManifestCache.rowsFor(spark, dir) match {
      case Some(rows) =>
        spark.createDataset(scala.collection.immutable.ArraySeq.unsafeWrapArray(rows))(
          org.apache.spark.sql.Encoders.product[Lineage.ManifestRow])
      case None => Lineage.readManifest(spark, dir)
    }

  /** Driver-side twin of the distributed zone-map/sketch pruning in
    * `prunedManifest` — SAME UTF-8 binary string order (Utf8Order is
    * Spark's UTF8String order), same fail-open sketch semantics.
    * Equivalence is pinned by ManifestPruneParitySpec: the two paths are
    * asserted chunk-for-chunk identical over every filter shape. */
  def admitsAll(pushed: Array[Filter],
                probes: Array[Int]): Lineage.ManifestRow => Boolean = {
    import graft.engine.Utf8Order
    type M = Lineage.ManifestRow
    val tests: Array[M => Boolean] = pushed.flatMap {
      case EqualTo("doc_id", v: String) =>
        Some((m: M) => Utf8Order.gte(m.max_doc_id, v) &&
          Utf8Order.lte(m.min_doc_id, v))
      case GreaterThan("doc_id", v: String) =>
        Some((m: M) => Utf8Order.gt(m.max_doc_id, v))
      case GreaterThanOrEqual("doc_id", v: String) =>
        Some((m: M) => Utf8Order.gte(m.max_doc_id, v))
      case LessThan("doc_id", v: String) =>
        Some((m: M) => Utf8Order.lt(m.min_doc_id, v))
      case LessThanOrEqual("doc_id", v: String) =>
        Some((m: M) => Utf8Order.lte(m.min_doc_id, v))
      case In("doc_id", vs) =>
        val sorted = ZonePrune.sortValues(vs.collect { case s: String => s })
        Some((m: M) =>
          ZonePrune.anyInRange(sorted, m.min_doc_id, m.max_doc_id))
      case _ => None
    } ++ probes.map(v => (m: M) => m.min_tok <= v && m.max_tok >= v &&
      TokenSketch.mightContain(m.tok_set, m.min_tok, v))
    m => tests.forall(_(m))
  }

  private def planCap(spark: SparkSession): Int = {
    val capStr = spark.conf.get("graft.plan.maxChunks", "2000000")
    capStr.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"graft.plan.maxChunks must be a positive chunk count, got '$capStr'"))
  }

  /** ONE Spark job for the whole dir set: the tagged per-dir manifests are
    * unioned, pruned once, collected once — a deep tree otherwise pays one
    * sequential driver-side collect per batch at planning time. The
    * collect is BOUNDED by `graft.plan.maxChunks` (session conf): a
    * pathological tree fails loudly at planning instead of OOMing the
    * driver building millions of InputPartitions. Small tables skip the
    * job entirely: the cached/driver-local manifest is pruned in-process
    * with `admitsAll` (planning drops from ~0.5 s to ~ms — the cost that
    * dominated every interactive-scale DSv2 query). */
  def prunedManifest(spark: SparkSession, dirs: Seq[String],
                     pushed: Array[Filter],
                     probes: Array[Int]): Array[(String, Lineage.ManifestRow)] = {
    if (dirs.isEmpty) return Array.empty
    val cap = planCap(spark)
    localManifests(spark, dirs) match {
      case Some(local) =>
        val admit = admitsAll(pushed, probes)
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(String, Lineage.ManifestRow)]
        local.foreach { case (d, rows) =>
          rows.foreach { m =>
            if (admit(m)) {
              out += ((d, m))
              if (out.length > cap) throw new IllegalStateException(
                s"graft planning over ${dirs.size} dir(s) admits more than " +
                  s"$cap chunks; prune harder (doc_id/containsToken), read " +
                  "fewer batches, or raise graft.plan.maxChunks")
            }
          }
        }
        return out.toArray
      case None => () // distributed path below
    }
    import spark.implicits._
    var t = dirs.map(d => Lineage.readManifest(spark, d).map(m => (d, m)))
      .reduce(_ union _)
    // manifest zone-map pruning in Spark's own (UTF8 binary) string order —
    // the same order ChunkBuilder computed the bounds in
    pushed.foreach {
      case EqualTo("doc_id", v: String) =>
        t = t.filter(col("_2.max_doc_id") >= v && col("_2.min_doc_id") <= v)
      case GreaterThan("doc_id", v: String) =>
        t = t.filter(col("_2.max_doc_id") > v)
      case GreaterThanOrEqual("doc_id", v: String) =>
        t = t.filter(col("_2.max_doc_id") >= v)
      case LessThan("doc_id", v: String) =>
        t = t.filter(col("_2.min_doc_id") < v)
      case LessThanOrEqual("doc_id", v: String) =>
        t = t.filter(col("_2.min_doc_id") <= v)
      case In("doc_id", vs) =>
        val sorted = ZonePrune.sortValues(vs.collect { case s: String => s })
        t = t.filter(e =>
          ZonePrune.anyInRange(sorted, e._2.min_doc_id, e._2.max_doc_id))
      case _ => ()
    }
    probes.foreach { v =>
      // two levels before any data read, per probe (conjuncts AND): the
      // [min_tok, max_tok] zone map, then the per-chunk TokenSketch (fails
      // OPEN — an unreadable sketch costs a wasted decode, never a dropped
      // row)
      t = t.filter(col("_2.min_tok") <= v && col("_2.max_tok") >= v)
        .filter(e => TokenSketch.mightContain(e._2.tok_set, e._2.min_tok, v))
    }
    val rows = t.limit(cap + 1).collect()
    if (rows.length > cap) throw new IllegalStateException(
      s"graft planning over ${dirs.size} dir(s) admits more than $cap " +
        "chunks; prune harder (doc_id/containsToken), read fewer batches, " +
        "or raise graft.plan.maxChunks")
    rows
  }

  def dictsFor(spark: SparkSession,
               dirs: Set[String]): Map[String, Option[Array[Byte]]] =
    dirs.iterator.map(d => d -> Lineage.sharedDictBytes(spark, d)).toMap

  def partitionsForAll(spark: SparkSession, dirs: Seq[String],
                       pushed: Array[Filter],
                       probes: Array[Int] = Array.empty): Array[InputPartition] = {
    val rows = prunedManifest(spark, dirs, pushed, probes)
    pack(spark, rows, dictsFor(spark, rows.iterator.map(_._1).toSet), probes)
  }

  /** Pack surviving chunks into scheduled partitions, Spark-file-source
    * style: manifest order (sequential I/O within a part file), same-dir
    * runs only (one dict per task), split at
    * min(`graft.read.maxPartitionBytes`, max(4 MB, total/parallelism)) of
    * encoded bytes — big tables get ~128 MB tasks, small tables still
    * spread across the cluster, and a degenerate chunk is never split. Set
    * `graft.read.maxPartitionBytes=1` to force one chunk per task (specs
    * use it to observe pruning). */
  def pack(spark: SparkSession, rows: Array[(String, Lineage.ManifestRow)],
           dicts: Map[String, Option[Array[Byte]]],
           probes: Array[Int],
           sample: Option[GraftSample] = None): Array[InputPartition] = {
    if (rows.isEmpty) return Array.empty
    val maxBytesStr = spark.conf.get("graft.read.maxPartitionBytes",
      (128L * 1024 * 1024).toString)
    val maxBytes = maxBytesStr.toLongOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"graft.read.maxPartitionBytes must be a positive byte count, " +
          s"got '$maxBytesStr'"))
    val total = rows.iterator.map(_._2.enc_bytes).sum
    val par = math.max(1, spark.sparkContext.defaultParallelism)
    val target = math.max(1L,
      math.min(maxBytes, math.max(4L * 1024 * 1024, total / par + 1)))
    val sorted = rows.sortBy { case (d, m) => (d, m.part_id, m.seq) }
    val out = scala.collection.mutable.ArrayBuffer.empty[InputPartition]
    var curDir: String = null
    val cur = scala.collection.mutable.ArrayBuffer.empty[Lineage.ManifestRow]
    var curBytes = 0L
    def flush(): Unit = if (cur.nonEmpty) {
      out += GraftInputPartition(curDir, cur.toArray, dicts(curDir), probes,
        sample)
      cur.clear(); curBytes = 0L
    }
    sorted.foreach { case (d, m) =>
      if (d != curDir || (cur.nonEmpty && curBytes + m.enc_bytes > target))
        flush()
      curDir = d
      cur += m
      curBytes += m.enc_bytes
    }
    flush()
    out.toArray
  }

  /** Bucket-aware packing for storage-partitioned joins: chunks pack
    * normally but never ACROSS buckets (bucket = part_id % n — append runs
    * land on the same residues by the marker contract), and every task
    * carries its bucket as a HasPartitionKey. Spark groups same-key tasks —
    * including the same bucket across a tree's batch dirs — into one
    * key-grouped partition. Parallelism within a join is then n, the
    * inherent SPJ trade (exactly Hive/Iceberg bucketed-join semantics);
    * scans that don't feed an SPJ keep the unconstrained packing. */
  def packBucketed(spark: SparkSession,
                   rows: Array[(String, Lineage.ManifestRow)],
                   dicts: Map[String, Option[Array[Byte]]],
                   probes: Array[Int], n: Int,
                   sample: Option[GraftSample] = None): Array[InputPartition] =
    rows.groupBy { case (_, m) => m.part_id % n }
      .toArray.sortBy(_._1)
      .flatMap { case (bucket, rs) =>
        pack(spark, rs, dicts, probes, sample).map {
          case g: GraftInputPartition => GraftBucketedInputPartition(g, bucket)
          case other => other // unreachable: pack emits GraftInputPartition
        }
      }
}

/** A completely-pushed global aggregate: the answer comes from the
  * manifests alone — ONE tiny Spark job over chunk framing rows, zero
  * chunk opens, one output row. count(*) over 100 TB reads kilobytes. */
class GraftAggScan(path: String, cols: Seq[GraftAggCol],
                   untilBatch: Option[Long] = None)
    extends Scan with Batch {
  override def toBatch: Batch = this
  override def readSchema(): StructType = StructType(cols.map {
    case AggCountRows => StructField("count", LongType, nullable = false)
    case AggMinDocId  => StructField("min_doc_id", StringType, nullable = true)
    case AggMaxDocId  => StructField("max_doc_id", StringType, nullable = true)
    case AggSumNTok   => StructField("sum_n_tok", LongType, nullable = true)
  })
  override def description(): String =
    s"graft:$path manifest-only aggregate [${cols.mkString(", ")}]" +
      untilBatch.fold("")(n => s" untilBatch=$n")

  override def planInputPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    // the manifest-only answer honors the same time-travel cut as the row
    // scan (count() as of batch n counts batches <= n, not the tree)
    val dirs = GraftPlanning.resolveReadDirs(spark, path, untilBatch)
    val values: Array[Any] =
      if (dirs.isEmpty) cols.map {
        case AggCountRows => 0L
        case _            => null // SQL min/max/sum over zero rows
      }.toArray
      else GraftPlanning.localManifests(spark, dirs) match {
        case Some(local) =>
          // manifest cached driver-side: fold the aggregate in-process —
          // zero Spark jobs at all (the distributed twin below is the
          // 100-TB path; same null semantics, same UTF-8 binary string
          // order — Utf8Order IS Spark's UTF8String comparison)
          var c = 0L; var st = 0L; var any = false
          var mn: String = null; var mx: String = null
          local.foreach { case (_, rows) =>
            rows.foreach { m =>
              any = true
              c += m.n_rows
              st += m.n_tokens
              if (mn == null || graft.engine.Utf8Order.lt(m.min_doc_id, mn))
                mn = m.min_doc_id
              if (mx == null || graft.engine.Utf8Order.gt(m.max_doc_id, mx))
                mx = m.max_doc_id
            }
          }
          cols.map {
            case AggCountRows => c: Any
            case AggMinDocId  => mn
            case AggMaxDocId  => mx
            case AggSumNTok   => if (any) st: Any else null
          }.toArray
        case None =>
          import org.apache.spark.sql.functions._
          val mf = dirs.map(d => GraftPlanning.manifestDS(spark, d))
            .reduce(_ union _)
          val r = mf.agg(
            coalesce(sum(col("n_rows").cast("long")), lit(0L)).as("c"),
            min(col("min_doc_id")).as("mn"), max(col("max_doc_id")).as("mx"),
            sum(col("n_tokens")).as("st")).collect()(0)
          cols.map {
            case AggCountRows => r.getLong(0): Any
            case AggMinDocId  => if (r.isNullAt(1)) null else r.getString(1)
            case AggMaxDocId  => if (r.isNullAt(2)) null else r.getString(2)
            case AggSumNTok   => if (r.isNullAt(3)) null else r.getLong(3): Any
          }.toArray
      }
    Array(GraftAggPartition(values.map {
      case null      => null
      case l: Long   => java.lang.Long.valueOf(l)
      case s: String => s
    }))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new GraftAggRowReader(p.asInstanceOf[GraftAggPartition])
    }
}

/** A completely-pushed `GROUP BY source` aggregate: answered from the
  * manifest's per-chunk SrcStats blobs — one Spark job over manifest rows,
  * ZERO chunk opens and (for current-format manifests) zero meta reads.
  * A per-source rollup over 100 TB reads the manifests the planner was
  * going to read anyway; the reference analog is answering from framing,
  * not data (`tests/test_ppmd7.py:95-146`). Chunks written before SrcStats
  * existed fall back to a per-chunk META read (2 small range reads, no
  * payload, no dict) inside the same distributed job — mixed-era dirs stay
  * exactly correct, and the fallback count is observable
  * (`lastMetaFallbackChunks`). */
class GraftSourceAggScan(path: String, cols: Seq[GraftAggCol],
                         untilBatch: Option[Long] = None)
    extends Scan with Batch {
  // spec observability: how many chunks lacked SrcStats and paid a meta
  // read during the last planning pass (-1 = not planned yet)
  @volatile private[spark] var lastMetaFallbackChunks: Int = -1
  override def toBatch: Batch = this
  // complete pushdown contract: group columns FIRST, then agg columns
  override def readSchema(): StructType = StructType(
    StructField("source", StringType, nullable = false) +: cols.map {
      case AggCountRows => StructField("count", LongType, nullable = false)
      case AggSumNTok   => StructField("sum_n_tok", LongType, nullable = true)
      case other => throw new IllegalStateException(
        s"$other is not a grouped manifest aggregate") // translate() bars it
    })
  override def description(): String =
    s"graft:$path manifest-only grouped aggregate GROUP BY source " +
      s"[${cols.mkString(", ")}]" +
      untilBatch.fold("")(n => s" untilBatch=$n")

  override def planInputPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    val dirs = GraftPlanning.resolveReadDirs(spark, path, untilBatch)
    // driver-local fast path: manifest cached AND every chunk carries a
    // decodable SrcStats blob — fold the per-source rollup in-process,
    // zero Spark jobs (a single undecodable blob falls through to the
    // distributed job, whose meta-read fallback handles mixed-era dirs)
    val localGroups: Option[Array[(String, Long, Long)]] =
      if (dirs.isEmpty) None
      else GraftPlanning.localManifests(spark, dirs).flatMap { local =>
        val agg = new java.util.TreeMap[String, Array[Long]]()
        val ok = local.forall { case (_, rows) =>
          rows.forall { m =>
            graft.engine.SrcStats.decode(m.src_stats) match {
              case Some(stats) =>
                stats.foreach { case (src, r, t) =>
                  var e = agg.get(src)
                  if (e == null) { e = new Array[Long](2); agg.put(src, e) }
                  e(0) += r; e(1) += t
                }
                true
              case None => false
            }
          }
        }
        if (!ok) None
        else {
          import scala.jdk.CollectionConverters._
          Some(agg.entrySet().iterator().asScala.map(e =>
            (e.getKey, e.getValue()(0), e.getValue()(1))).toArray)
        }
      }
    val groups: Array[(String, Long, Long)] =
      if (dirs.isEmpty) Array.empty // GROUP BY over an empty tree: no rows
      else if (localGroups.isDefined) {
        val out = localGroups.get
        // same loud bound as the distributed path (behavior parity)
        val capStr = spark.conf.get("graft.agg.maxGroups", "1000000")
        val cap = capStr.toIntOption.filter(_ > 0).getOrElse(
          throw new IllegalArgumentException(
            s"graft.agg.maxGroups must be a positive group count, got '$capStr'"))
        if (out.length > cap) throw new IllegalStateException(
          s"GROUP BY source pushdown over $path exceeds $cap groups; " +
            "raise graft.agg.maxGroups or disable pushdown for this query")
        lastMetaFallbackChunks = 0 // every blob decoded — no meta reads
        out
      }
      else {
        import spark.implicits._
        import org.apache.spark.sql.functions._
        val hconf = new SerializableConfiguration(
          spark.sparkContext.hadoopConfiguration)
        val fallback = spark.sparkContext.longAccumulator(
          "graft_srcstats_meta_fallback_chunks")
        val mf = dirs.map(d => GraftPlanning.manifestDS(spark, d).map(m => (d, m)))
          .reduce(_ union _)
        // one (source, rows, tokens) triple per (chunk, source): tiny rows,
        // partial-aggregated map-side by the groupBy below
        val per = mf.mapPartitions { it =>
          it.flatMap { case (dir, m) =>
            graft.engine.SrcStats.decode(m.src_stats) match {
              case Some(stats) => stats.iterator
              case None =>
                // pre-upgrade chunk: meta-only read (payload never leaves
                // disk), aggregated chunk-locally before emitting
                fallback.add(1L)
                val agg = new java.util.TreeMap[String, Array[Long]]()
                ChunkBuilder.openMeta(
                  Lineage.readChunkMeta(hconf.value, dir, m)).foreach {
                  case (src, len) =>
                    var e = agg.get(src)
                    if (e == null) { e = new Array[Long](2); agg.put(src, e) }
                    e(0) += 1L; e(1) += len.toLong
                }
                import scala.jdk.CollectionConverters._
                agg.entrySet().iterator().asScala.map(e =>
                  (e.getKey, e.getValue()(0), e.getValue()(1)))
            }
          }
        }.toDF("source", "rows", "tokens")
        val capStr = spark.conf.get("graft.agg.maxGroups", "1000000")
        val cap = capStr.toIntOption.filter(_ > 0).getOrElse(
          throw new IllegalArgumentException(
            s"graft.agg.maxGroups must be a positive group count, got '$capStr'"))
        val out = per.groupBy(col("source"))
          .agg(sum(col("rows")).as("rows"), sum(col("tokens")).as("tokens"))
          .limit(cap + 1)
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        if (out.length > cap) throw new IllegalStateException(
          s"GROUP BY source pushdown over $path exceeds $cap groups; " +
            "raise graft.agg.maxGroups or disable pushdown for this query")
        lastMetaFallbackChunks = fallback.value.toInt
        out
      }
    if (dirs.isEmpty) lastMetaFallbackChunks = 0
    Array(GraftSourceAggPartition(groups, cols.map {
      case AggCountRows => 0; case AggSumNTok => 1
      case other => throw new IllegalStateException(s"$other not grouped")
    }.toArray))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new GraftSourceAggRowReader(p.asInstanceOf[GraftSourceAggPartition])
    }
}

/** `sel(i)` maps output agg column i to 0 = row count, 1 = token sum. */
case class GraftSourceAggPartition(groups: Array[(String, Long, Long)],
                                   sel: Array[Int]) extends InputPartition

class GraftSourceAggRowReader(p: GraftSourceAggPartition)
    extends PartitionReader[InternalRow] {
  private var i = -1
  override def next(): Boolean = { i += 1; i < p.groups.length }
  override def get(): InternalRow = {
    val (src, rows, toks) = p.groups(i)
    val out = new GenericInternalRow(1 + p.sel.length)
    out.update(0, UTF8String.fromString(src))
    var j = 0
    while (j < p.sel.length) {
      out.setLong(1 + j, if (p.sel(j) == 0) rows else toks)
      j += 1
    }
    out
  }
  override def close(): Unit = ()
}

case class GraftAggPartition(values: Array[AnyRef]) extends InputPartition

class GraftAggRowReader(p: GraftAggPartition)
    extends PartitionReader[InternalRow] {
  private var done = false
  override def next(): Boolean = if (done) false else { done = true; true }
  override def get(): InternalRow = {
    val out = new GenericInternalRow(p.values.length)
    var i = 0
    while (i < p.values.length) {
      p.values(i) match {
        case null               => out.setNullAt(i)
        case l: java.lang.Long  => out.setLong(i, l.longValue())
        case s: String          => out.update(i, UTF8String.fromString(s))
      }
      i += 1
    }
    out
  }
  override def close(): Unit = ()
}

// ---- incremental (micro-batch) read over a batch tree ----------------------

/** Watermark over BATCH NUMBERS, not dir counts: a count-based offset
  * breaks the moment name order and arrival order diverge (e.g. the %05d
  * pad rolling over at batch 100000 — lexicographic mid-list insertion
  * would silently duplicate one batch and drop another forever). -1 =
  * nothing consumed. */
case class GraftOffset(lastBatch: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = s"""{"lastBatch":$lastBatch}"""
}

/** `spark.readStream.format("graft").load(root)` — consume a streaming
  * batch tree INCREMENTALLY: the offset is the highest consumed BATCH
  * NUMBER among READY subdirs (gated on the `_graft_batch_ready` marker,
  * so a half-written batch is never consumed and then skipped forever),
  * and each trigger plans exactly the chunks of the newly readied
  * batches. Admission control: `option("maxBatchesPerTrigger", n)` caps a
  * trigger at n batches, so catching up on a deep tree is n-batch
  * increments with exact checkpointed offsets instead of one giant batch;
  * Trigger.AvailableNow snapshots the ready frontier at start and drains
  * exactly to it. Batches must become ready in ascending number order —
  * the streaming sink guarantees it; manual trees marking out of order
  * would skip the late-marked earlier batch. Produce with
  * `writeStream.format("graft")` (or StreamingEncoder.writeToLineageDir),
  * consume here — the encoded corpus becomes an append-only stream with
  * the same pruning and column semantics as the batch source. */
class GraftMicroBatchStream(root: String, pushed: Array[Filter],
                            required: StructType, probes: Array[Int],
                            maxBatchesPerTrigger: Option[Int])
    extends streaming.MicroBatchStream
    with SupportsAdmissionControl with SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.Offset
  private def spark = SparkSession.active

  // loud misuse check at stream construction: a missing root or a plain
  // lineage dir must not read as an eternally empty stream
  locally {
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(root),
      SparkSession.active.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(root)))
      throw new IllegalArgumentException(
        s"graft stream root does not exist: $root")
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$root/_lineage")))
      throw new IllegalArgumentException(
        s"$root is a plain lineage dir — the streaming source reads batch " +
          "trees (writeStream.format(\"graft\") output)")
  }

  /** Ready batches as (number, dir), number-ordered. Unnumbered dirs in a
    * STREAM tree are a layout error — fail loudly, never mis-order. */
  private def readyNumbered(): Seq[(Long, String)] =
    Lineage.readyBatchDirs(spark, root).map { d =>
      val n = Lineage.batchNumber(d).getOrElse(
        throw new IllegalArgumentException(
          s"unnumbered batch dir in stream tree: $d"))
      (n, d)
    }.sortBy(_._1)

  // Trigger.AvailableNow: the frontier is FROZEN at stream start — batches
  // readied while draining belong to the next run, so the drain terminates
  private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(
      readyNumbered().lastOption.map(_._1).getOrElse(-1L))

  override def getDefaultReadLimit: ReadLimit =
    maxBatchesPerTrigger.map(n => ReadLimit.maxFiles(n))
      .getOrElse(ReadLimit.allAvailable())

  override def initialOffset(): Offset = GraftOffset(-1L)
  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "latestOffset(start, limit) drives this admission-controlled stream")
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s0 = start.asInstanceOf[GraftOffset].lastBatch
    var pending = readyNumbered().map(_._1).filter(_ > s0)
    availableNowCap.foreach(cap => pending = pending.filter(_ <= cap))
    val admitted = limit match {
      case f: ReadMaxFiles => pending.take(f.maxFiles())
      case _               => pending
    }
    GraftOffset(admitted.lastOption.getOrElse(s0))
  }
  override def reportLatestOffset(): Offset =
    GraftOffset(readyNumbered().lastOption.map(_._1).getOrElse(-1L))
  override def deserializeOffset(json: String): Offset =
    """"lastBatch"\s*:\s*(-?\d+)""".r.findFirstMatchIn(json) match {
      case Some(m) => GraftOffset(m.group(1).toLong)
      case None => throw new IllegalArgumentException(
        s"corrupt graft stream offset (a garbled checkpoint must fail " +
          s"loudly, not silently re-deliver the whole tree): $json")
    }
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] = {
    val s0 = start.asInstanceOf[GraftOffset].lastBatch
    val e0 = end.asInstanceOf[GraftOffset].lastBatch
    val dirs = readyNumbered().filter { case (n, _) => n > s0 && n <= e0 }
      .map(_._2)
    GraftPlanning.partitionsForAll(spark, dirs, pushed, probes)
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration),
      required,
      spark.conf.get("graft.read.columnar", "true").toBoolean)
}

// ---- write path ------------------------------------------------------------

/** `df.write.format("graft").mode("append"|"overwrite").save(dir)` — the
  * sink half of the source above, riding the SAME atomic per-partition
  * commit protocol as Lineage.encodeToDir (one copy of the delicate dance:
  * Lineage.PartitionCommitter). Semantics:
  *  - rows are chunked AS PARTITIONED (the sink never reshuffles — encode
  *    where the data lives; repartition deterministically upstream if you
  *    want resume-sound partition membership);
  *  - append mode honors SPARK's append contract: new writes land in fresh
  *    partition files (ids offset past the committed ones) — never a
  *    silent skip of new data. Concurrent appends to one dir need external
  *    coordination (the offset is computed once, driver-side);
  *  - `option("resume", "true")` switches append to encodeToDir's RESUME
  *    semantics instead: partition ids are kept and already-committed ones
  *    are skipped — for re-running the exact same deterministic write
  *    after a failure, NOT for adding new data;
  *  - overwrite truncates the table dir first (driver-side, once);
  *  - an already-published shared meta dictionary is honored; fresh dirs
  *    write self-contained chunks;
  *  - `option("chunkTokens", n)` tunes the chunk budget.
  *
  * `df.writeStream.format("graft")` writes the STREAMING batch-tree
  * layout: each epoch lands in `dir/batch=<epoch>/` through the same
  * per-partition committers, the tree-level stream marker is published at
  * stream start (first-batch visibility), and the epoch's
  * `_graft_batch_ready` marker is written by the driver only after every
  * partition of the epoch committed — the exactly-once visibility point
  * the incremental reader consumes. */
class GraftWriteBuilder(path: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = {
    val chunkTokens = Option(info.options.get("chunktokens"))
      .map(_.toInt).getOrElse(1 << 20)
    require(chunkTokens > 0, s"chunkTokens must be positive, got $chunkTokens")
    val resume = Option(info.options.get("resume")).exists(_.toBoolean)
    val arrange = Option(info.options.get("arrange")).map { s =>
      val n = s.toInt
      require(n > 0, s"arrange must be a positive partition count, got $n")
      n
    }
    new GraftWrite(path, info.schema(), doTruncate, chunkTokens, resume,
      arrange)
  }
}

class GraftWrite(path: String, inputSchema: StructType, doTruncate: Boolean,
                 chunkTokens: Int, resume: Boolean,
                 arrange: Option[Int] = None)
    extends Write with BatchWrite
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  override def toBatch: BatchWrite = this
  override def toStreaming: StreamingWrite = {
    // Complete/Update output modes arrive here as truncate(); silently
    // appending every epoch's FULL snapshot as a new batch dir would grow
    // the tree without bound while looking correct — refuse loudly
    if (doTruncate) throw new UnsupportedOperationException(
      "graft streaming sink supports APPEND output mode only (a " +
        "truncating mode would re-emit the whole result as a new batch " +
        "every epoch)")
    new GraftStreamingWrite(path, inputSchema, chunkTokens)
  }

  // `option("arrange", n)`: ask SPARK for the deterministic arrangement a
  // resume-sound write needs — hash-cluster by doc_id into exactly n
  // partitions, sorted (source, doc_id) within each — via the declarative
  // write-distribution API instead of a caller-side
  // repartition(n, doc_id).sortWithinPartitions(...). The produced layout
  // is BYTE-IDENTICAL to Lineage.encodeToDir(numPartitions = n) on the
  // same dict (spec-pinned). Without the option: unspecified distribution,
  // rows chunk AS PARTITIONED (the no-shuffle contract stands).
  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
  import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
  override def requiredDistribution(): Distribution =
    if (arrange.isEmpty) Distributions.unspecified()
    else Distributions.clustered(Array(Expressions.column("doc_id")))
  override def requiredNumPartitions(): Int = arrange.getOrElse(0)
  override def requiredOrdering(): Array[SortOrder] =
    if (arrange.isEmpty) Array.empty
    else Array(
      Expressions.sort(Expressions.column("source"), SortDirection.ASCENDING),
      Expressions.sort(Expressions.column("doc_id"), SortDirection.ASCENDING))

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    GraftWrite.requireGraftSchema(inputSchema)
    val spark = SparkSession.active
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)
    import org.apache.hadoop.fs.Path
    // mirror image of the streaming sink's plain-table guard: a batch
    // write into a batch-TREE root would mkdir `$path/_lineage`, after
    // which resolveReadDirs resolves the ROOT as a plain table and every
    // batch=N subdir goes silently invisible to batch reads (and a
    // restarted stream reader fails on its root check) — refuse up front
    if (Lineage.isStreamTree(spark, path) ||
        Lineage.batchDirs(spark, path).nonEmpty)
      throw new IllegalArgumentException(
        s"$path is a batch TREE (streaming-sink output / batch=N layout) " +
          "— batch writes target plain lineage tables; use writeStream " +
          "or a fresh root")
    if (doTruncate) {
      fs.delete(new Path(s"$path/data"), true)
      fs.delete(new Path(s"$path/_lineage"), true)
      fs.delete(new Path(s"$path/_manifest_parquet"), true)
      fs.delete(new Path(s"$path/_manifest_parquet.count"), false)
      // a truncated batch dir must lose its READY visibility too, or a
      // concurrent stream would consume the half-written rewrite
      fs.delete(new Path(s"$path/_graft_batch_ready"), false)
      Lineage.clearBucketMarker(fs, path) // rewritten below if arranged
    }
    fs.mkdirs(new Path(s"$path/data"))
    fs.mkdirs(new Path(s"$path/_lineage"))
    // Spark-append contract: new data lands in FRESH partitions, offset
    // past everything committed; resume mode keeps ids (and so the skip)
    val pidOffset =
      if (resume || doTruncate) 0
      else {
        // gen-aware parse: a DELETE-rewritten partition lives at
        // part-N.gK.json and still occupies part id N
        val committed = fs.listStatus(new Path(s"$path/_lineage"))
          .map(_.getPath.getName)
          .flatMap(n => Lineage.manifestPidGen(n).map(_._1))
        if (committed.isEmpty) 0 else committed.max + 1
      }
    // Bucket-layout marker lifecycle (what makes storage-partitioned joins
    // SOUND — see Lineage.writeBucketMarker): an arranged write into a
    // fresh/truncated table ESTABLISHES bucketing n; an arranged append
    // PRESERVES it only when the counts match and new part ids land on the
    // same residues (pidOffset % n == 0, so part_id % n stays the bucket);
    // everything else — unarranged writes, mismatched counts — DELETES the
    // marker, because a stale marker silently drops join matches while a
    // missing one merely costs a shuffle.
    locally {
      val hasCommitted = fs.listStatus(new Path(s"$path/_lineage"))
        .exists(_.getPath.getName.endsWith(".json"))
      arrange match {
        case Some(n) if !hasCommitted => Lineage.writeBucketMarker(fs, path, n)
        case Some(n) =>
          if (!(Lineage.readBucketMarker(fs, path).contains(n) &&
                pidOffset % n == 0))
            Lineage.clearBucketMarker(fs, path)
        case None =>
          Lineage.clearBucketMarker(fs, path)
      }
    }
    val dict = Lineage.sharedDictBytes(spark, path)
    new GraftWriterFactory(path,
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration),
      dict, chunkTokens, pidOffset, resume)
  }
  // per-partition commits are already durable+atomic (manifest renames);
  // the job-level commit has nothing left to do, and failed jobs leave
  // only committed partitions — exactly the resume contract
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

object GraftWrite {
  def requireGraftSchema(s: StructType): Unit =
    require(s.fieldNames.toSeq == GraftTable.Schema.fieldNames.toSeq,
      s"graft sink needs columns [${GraftTable.Schema.fieldNames.mkString(", ")}], " +
        s"got [${s.fieldNames.mkString(", ")}]")
}

/** Streaming sink: one batch subdir per epoch, READY-marked by the driver
  * at epoch commit. Epoch re-runs (restart between task success and epoch
  * commit) rewrite the same `batch=<epoch>` dir with RESUME semantics —
  * already-committed partitions are skipped, which is exactly-once when
  * the upstream micro-batch replays deterministically (Spark's replayable-
  * source contract; same caveat as batch resume). */
class GraftStreamingWrite(path: String, inputSchema: StructType,
                          chunkTokens: Int) extends StreamingWrite {
  private def epochDir(epochId: Long): String = f"$path/batch=$epochId%05d"

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    GraftWrite.requireGraftSchema(inputSchema)
    val spark = SparkSession.active
    // a plain lineage table root would swallow the stream: batch reads
    // resolve `$path/_lineage` FIRST and would never see batch=N subdirs —
    // every streamed epoch unreachable, no error anywhere. Mirror the
    // streaming READER's root validation and refuse up front.
    locally {
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path),
        spark.sparkContext.hadoopConfiguration)
      val lin = new org.apache.hadoop.fs.Path(s"$path/_lineage")
      if (fs.exists(lin)) {
        // ONE exception: a catalog CREATE of a managed table initializes
        // an EMPTY _lineage (zero manifests, zero data anywhere) so batch
        // SELECT works pre-INSERT. writeStream.toTable on that table is a
        // legitimate first write — convert the empty placeholder into a
        // stream tree. Anything non-empty keeps the loud refusal: batch
        // reads resolve _lineage FIRST and would silently hide batch=N.
        val linEmpty = fs.listStatus(lin).isEmpty
        val rootOnlyLineage = fs.listStatus(
          new org.apache.hadoop.fs.Path(path))
          .forall(_.getPath.getName == "_lineage")
        if (linEmpty && rootOnlyLineage) fs.delete(lin, true)
        else throw new IllegalArgumentException(
          s"$path is a plain lineage table (batch save/encodeToDir output) " +
            "— the streaming sink writes batch TREES; use a fresh root")
      }
    }
    // the tree-level marker goes down at STREAM START, before any batch
    // dir exists: batch readers of this tree apply READY-marker visibility
    // from the first trigger on (never consume an in-flight epoch)
    Lineage.markStreamTree(spark, path)
    new GraftStreamingWriterFactory(path,
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration),
      chunkTokens)
  }

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)
    // an all-empty epoch writes no files (GraftDataWriter.commit skips
    // the committer when no chunk was ever added), so no batch dir exists
    // to mark; only READY-mark dirs that hold a lineage
    val d = epochDir(epochId)
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$d/_lineage")))
      Lineage.markBatchReady(spark, d)
  }
  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit = ()
}

class GraftStreamingWriterFactory(root: String, conf: SerializableConfiguration,
                                  chunkTokens: Int)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    // resume semantics per epoch dir: a retried/re-run epoch skips its
    // already-committed partitions instead of duplicating them
    new GraftDataWriter(f"$root/batch=$epochId%05d", conf.value, partitionId,
      taskId, None, chunkTokens, resume = true)
}

case class GraftCommitMessage(pid: Int, committed: Boolean)
    extends WriterCommitMessage

class GraftWriterFactory(dir: String, conf: SerializableConfiguration,
                         dict: Option[Array[Byte]], chunkTokens: Int,
                         pidOffset: Int, resume: Boolean)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int,
                            taskId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(dir, conf.value, pidOffset + partitionId, taskId,
      dict, chunkTokens, resume)
}

class GraftDataWriter(dir: String, conf: Configuration, pid: Int,
                      taskId: Long, dictBytes: Option[Array[Byte]],
                      chunkTokens: Int, resume: Boolean)
    extends DataWriter[InternalRow] {
  private val fs =
    org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir), conf)
  private val committer = new Lineage.PartitionCommitter(fs, dir, pid, taskId)
  // only RESUME mode may skip (re-running the same deterministic write);
  // in plain append the partition ids are fresh, so alreadyDone here means
  // a task RETRY of this very write — the committer settles that race
  private val skip = resume && committer.alreadyDone
  private val dict = dictBytes.map(MetaDict.fromBytes).orNull
  private val maxRows = 1 << 16

  private var seqNo = 0
  private val docIds = scala.collection.mutable.ArrayBuffer.empty[String]
  private val sources = scala.collection.mutable.ArrayBuffer.empty[String]
  private val lens = scala.collection.mutable.ArrayBuffer.empty[Int]
  private var toks = new Array[Int](math.min(chunkTokens, 1 << 16))
  private var nTok = 0

  override def write(row: InternalRow): Unit = if (!skip) {
    // push-mode twin of Encoder.chunkIterator's slicing: flush BEFORE
    // appending once the previous row crossed the budget — identical
    // grouping to the pull version
    if (docIds.nonEmpty && (nTok >= chunkTokens || docIds.length >= maxRows))
      flush()
    if (row.isNullAt(0) || row.isNullAt(1) || row.isNullAt(2) ||
        row.isNullAt(3))
      throw new IllegalArgumentException(
        "graft sink: doc_id, tokens, n_tok and source must be non-null " +
          s"(partition $pid)")
    val arr = row.getArray(1).toIntArray()
    val n = row.getInt(2)
    require(n == arr.length,
      s"row ${row.getUTF8String(0)}: n_tok $n != tokens.length ${arr.length}")
    docIds += row.getUTF8String(0).toString
    sources += row.getUTF8String(3).toString
    lens += n
    if (nTok + n > toks.length) {
      val want = math.max(toks.length * 2L, nTok.toLong + n)
      toks = java.util.Arrays.copyOf(toks,
        math.min(want, Int.MaxValue - 8).toInt)
    }
    System.arraycopy(arr, 0, toks, nTok, n)
    nTok += n
  }

  private def flush(): Unit = {
    committer.add(ChunkBuilder.build(pid, seqNo, docIds.toArray,
      sources.toArray, java.util.Arrays.copyOf(toks, nTok), lens.toArray,
      dict))
    seqNo += 1
    docIds.clear(); sources.clear(); lens.clear(); nTok = 0
  }

  override def commit(): WriterCommitMessage =
    if (skip) GraftCommitMessage(pid, committed = false)
    else {
      if (docIds.nonEmpty) flush()
      // an all-empty partition writes NOTHING — no empty data file, no
      // empty manifest. An all-empty streaming epoch therefore creates no
      // batch dir at all (and is never READY-marked); resume re-running
      // an empty partition is a deterministic no-op
      if (seqNo == 0) GraftCommitMessage(pid, committed = false)
      else GraftCommitMessage(pid, committer.commit())
    }
  override def abort(): Unit = if (!skip) committer.abort()
  override def close(): Unit = ()
}

/** Executor-level shared-dictionary cache. The DSv2 source schedules ONE
  * TASK PER CHUNK, so a naive reader rebuilds the MetaDict models (Huffman
  * bucket construction — tens of ms) thousands of times per query where
  * the engine's mapPartitions path builds them once per task; at 7,683
  * chunks that reconstruction dwarfed the decode itself. Keyed by
  * (length, CRC32) of the serialized dict; executors hold a handful of
  * dicts for their lifetime. */
private[spark] object MetaDictCache {
  // a long-lived executor serving MANY table dirs accumulates entries;
  // dicts are small (KBs) but unbounded growth is unbounded. True LRU
  // (access-ordered LinkedHashMap) instead of a wholesale clear(): past
  // the cap only the coldest dict is rebuilt, where a clear() made every
  // live table's next task pay a rebuild at once. Synchronized access is
  // per-CHUNK (not per-row) — contention is not a factor here.
  private val MaxEntries = 256
  private val cache =
    new java.util.LinkedHashMap[String, MetaDict](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, MetaDict]): Boolean =
        size() > MaxEntries
    }
  def get(bytes: Array[Byte]): MetaDict = {
    val crc = new java.util.zip.CRC32
    crc.update(bytes)
    val key = s"${bytes.length}:${crc.getValue}"
    cache.synchronized {
      val hit = cache.get(key)
      if (hit != null) return hit
    }
    // build OUTSIDE the lock (tens of ms): two racing tasks may both
    // build, last put wins — identical value either way
    val d = MetaDict.fromBytes(bytes)
    cache.synchronized { cache.put(key, d) }
    d
  }
}

class GraftReaderFactory(conf: SerializableConfiguration,
                         required: StructType,
                         columnar: Boolean = true)
    extends PartitionReaderFactory {
  private def unwrap(p: InputPartition): GraftInputPartition = p match {
    case b: GraftBucketedInputPartition => b.p
    case g: GraftInputPartition => g
  }
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new GraftPartitionReader(conf.value, unwrap(p), required)
  // COLUMNAR is the primary read path: emitting ColumnarBatch instead of
  // one GenericInternalRow per row removes the per-row volcano overhead
  // and lets Spark consume the scan through the same vectorized
  // ColumnarToRow it uses for parquet. The row reader stays for the
  // degenerate no-column projection and as the `graft.read.columnar=false`
  // escape hatch.
  override def supportColumnarReads(p: InputPartition): Boolean =
    columnar && required.fields.nonEmpty
  override def createColumnarReader(
      p: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new GraftColumnarReader(conf.value, unwrap(p), required)
}

/** Vectorized reader: consumes the chunk's COLUMNAR decode
  * (ChunkBuilder.openColumns — flat token array + row lens, no per-row
  * slices or SeqRows) and fills OnHeapColumnVectors with ONE bulk token
  * copy per batch. Also prunes harder than the row path: a projection of
  * `tokens` without `doc_id` skips the doc_id meta section entirely. */
class GraftColumnarReader(conf: Configuration, p: GraftInputPartition,
                          required: StructType)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

  private val Cap = 4096
  private val dict = p.dict.map(MetaDictCache.get).orNull
  private val needTokens = required.fieldNames.contains("tokens")
  private val needDocId = required.fieldNames.contains("doc_id")
  private val wantTok = needTokens || p.probes.nonEmpty

  // chunk cursor: ONE chunk's columns resident at a time (bounded memory
  // regardless of how many chunks the partition packs)
  private var chunkIdx = 0
  private var cols: ChunkBuilder.ChunkColumns = _
  // UTF-8 bytes computed once per DISTINCT source (the dict), not per row
  private var srcBytes: Array[Array[Byte]] = _
  private var row = 0     // next source row of the current chunk
  private var tokOff = 0  // its offset in the chunk's flat token array

  /** Load the next non-empty chunk; false when the partition is drained. */
  private var curM: Lineage.ManifestRow = _ // provenance metadata source
  private val samp = p.sample.orNull

  private def advance(): Boolean = {
    while (chunkIdx < p.rows.length) {
      val m = p.rows(chunkIdx)
      chunkIdx += 1
      // pushed TABLESAMPLE: selection is a pure function of (chunk_id,
      // row, seed), so a chunk with zero selected rows is skipped HERE —
      // before any read (at fraction f, a (1-f)^n_rows share of chunks)
      if (samp != null && !samp.anySelected(m.chunk_id, m.n_rows)) {
        // skip without I/O
      } else {
      val chunk =
        if (wantTok) Lineage.readChunk(conf, p.dir, m)
        else Lineage.readChunkMeta(conf, p.dir, m)
      cols = ChunkBuilder.openColumns(chunk, dict,
        withTokens = wantTok, withDocIds = needDocId)
      srcBytes =
        cols.srcDict.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      curM = m
      row = 0
      tokOff = 0
      if (cols.nRows > 0) return true
      }
    }
    false
  }

  private val fieldOrd: Array[Int] = required.fieldNames.map {
    case "doc_id" => 0
    case "tokens" => 1
    case "n_tok"  => 2
    case "source" => 3
    case other => GraftTable.MetaOrdinal.getOrElse(other,
      throw new IllegalArgumentException(s"unknown graft column $other"))
  }
  private val vectors = OnHeapColumnVector.allocateColumns(Cap, required)
  private val batch =
    new ColumnarBatch(vectors.asInstanceOf[Array[ColumnVector]])

  private def fillRow(i: Int, r: Int, rTokOff: Int, childOff: Int): Int = {
    val len = cols.rowLens(r)
    var c = 0
    var newChildOff = childOff
    while (c < fieldOrd.length) {
      fieldOrd(c) match {
        case 0 =>
          // byte-level column: the decode already produced one concatenated
          // UTF-8 buffer + offsets — no String or byte[] per row on the
          // source's hottest projection
          val d = cols.docIds
          vectors(c).putByteArray(i, d.bytes, d.offsets(r),
            d.offsets(r + 1) - d.offsets(r))
        case 1 =>
          val child = vectors(c).arrayData()
          child.reserve(childOff + len)
          child.putInts(childOff, len, cols.tokens, rTokOff)
          vectors(c).putArray(i, childOff, len)
          newChildOff = childOff + len
        case 2 => vectors(c).putInt(i, len)
        case 3 =>
          val b = srcBytes(cols.srcIdx(r))
          vectors(c).putByteArray(i, b, 0, b.length)
        // provenance metadata: per-chunk constants from the manifest row
        case 4 => vectors(c).putInt(i, curM.part_id)
        case 5 => vectors(c).putLong(i, curM.chunk_id)
        case 6 => vectors(c).putInt(i, curM.gen)
      }
      c += 1
    }
    newChildOff
  }

  override def next(): Boolean = {
    // loop (NOT recursion) over fully-filtered chunks: a probe that zone-
    // admits thousands of chunks but matches no rows must not grow the
    // stack by one frame per chunk (next() overrides an interface method,
    // so scalac cannot tail-call it)
    while ((cols != null && row < cols.nRows) || advance()) {
      if (fillBatch()) return true
    }
    false
  }

  /** Fill up to Cap rows from the current chunk; false if every row was
    * filtered out (caller advances and retries). */
  private def fillBatch(): Boolean = {
    var v = 0
    while (v < vectors.length) { vectors(v).reset(); v += 1 }
    var i = 0
    var childOff = 0
    // fill up to Cap rows from the CURRENT chunk (batches never span
    // chunks: each chunk has its own flat token array and source dict)
    if (p.probes.isEmpty) {
      while (i < Cap && row < cols.nRows) {
        if (samp == null || samp.selected(curM.chunk_id, row)) {
          childOff = fillRow(i, row, tokOff, childOff)
          i += 1
        }
        tokOff += cols.rowLens(row)
        row += 1
      }
    } else {
      // exact residual containment filter on the FLAT array — no slices;
      // conjunct semantics: the row must contain EVERY probe
      while (i < Cap && row < cols.nRows) {
        val len = cols.rowLens(row)
        val end = tokOff + len
        var k = 0
        // sample test first: cheaper than scanning the row's tokens
        var all = samp == null || samp.selected(curM.chunk_id, row)
        while (k < p.probes.length && all) {
          val probe = p.probes(k)
          var j = tokOff
          var hit = false
          while (j < end && !hit) { hit = cols.tokens(j) == probe; j += 1 }
          all = hit
          k += 1
        }
        if (all) { childOff = fillRow(i, row, tokOff, childOff); i += 1 }
        tokOff += len
        row += 1
      }
    }
    batch.setNumRows(i)
    i > 0
  }
  override def get(): ColumnarBatch = batch
  override def close(): Unit = batch.close()
}

class GraftPartitionReader(conf: Configuration, p: GraftInputPartition,
                           required: StructType)
    extends PartitionReader[InternalRow] {
  // ordinal projection map computed ONCE — no per-row string matching on
  // the innermost loop of the path this source advertises as fast
  private val ordinals: Array[Int] = required.fieldNames.map {
    case "doc_id" => 0
    case "tokens" => 1
    case "n_tok"  => 2
    case "source" => 3
    case other => GraftTable.MetaOrdinal.getOrElse(other,
      throw new IllegalArgumentException(s"unknown graft column $other"))
  }
  private val needTokens = ordinals.contains(1)
  private val needDocId = ordinals.contains(0)
  private val dict = p.dict.map(MetaDictCache.get).orNull
  private val samp = p.sample.orNull
  // pushed TABLESAMPLE on the row path: same (chunk_id, row, seed)
  // selection as the columnar reader — whole-chunk skips before I/O, then
  // a per-row-index admit on whatever iterator the projection chose
  private def admits[T](m: Lineage.ManifestRow, rows: Iterator[T])
      : Iterator[T] =
    if (samp == null) rows
    else rows.zipWithIndex.collect {
      case (r, idx) if samp.selected(m.chunk_id, idx) => r
    }
  private val it: Iterator[InternalRow] = p.rows.iterator.flatMap { m =>
    if (samp != null && !samp.anySelected(m.chunk_id, m.n_rows))
      Iterator.empty // no selected row: skipped without any read
    else if (p.probes.nonEmpty)
      // containment probes: EXACT row filter (pruning admitted this chunk
      // as a MAYBE) — the payload must decode regardless of projection
      admits(m, ChunkBuilder.open(Lineage.readChunk(conf, p.dir, m), dict))
        .filter(r => p.probes.forall(r.tokens.contains))
        .map(r => project(m, r.doc_id, r.tokens, r.n_tok, r.source))
    else {
      if (needTokens)
        admits(m, ChunkBuilder.open(Lineage.readChunk(conf, p.dir, m), dict))
          .map(r => project(m, r.doc_id, r.tokens, r.n_tok, r.source))
      else {
        // payload-free projection: readChunkMeta SEEKS past the payload —
        // its bytes are neither decoded NOR transferred (two small range
        // reads per chunk)
        val chunk = Lineage.readChunkMeta(conf, p.dir, m)
        if (needDocId)
          admits(m, ChunkBuilder.openSide(chunk, dict))
            .map { case (id, n, src) => project(m, id, null, n, src) }
        else // neither payload NOR the doc_id section (the dominant cost)
          admits(m, ChunkBuilder.openMeta(chunk))
            .map { case (src, n) => project(m, null, null, n, src) }
      }
    }
  }

  private def project(m: Lineage.ManifestRow, id: String, toks: Array[Int],
                      n: Int, src: String): InternalRow = {
    val out = new GenericInternalRow(ordinals.length)
    var i = 0
    while (i < ordinals.length) {
      ordinals(i) match {
        case 0 => out.update(i, UTF8String.fromString(id))
        case 1 => out.update(i, UnsafeArrayData.fromPrimitiveArray(toks))
        case 2 => out.setInt(i, n)
        case 3 => out.update(i, UTF8String.fromString(src))
        // provenance metadata: per-chunk constants from the manifest row
        // the reader is already holding — no extra I/O
        case 4 => out.setInt(i, m.part_id)
        case 5 => out.setLong(i, m.chunk_id)
        case 6 => out.setInt(i, m.gen)
      }
      i += 1
    }
    out
  }

  private var cur: InternalRow = _
  override def next(): Boolean =
    if (it.hasNext) { cur = it.next(); true } else false
  override def get(): InternalRow = cur
  override def close(): Unit = ()
}
