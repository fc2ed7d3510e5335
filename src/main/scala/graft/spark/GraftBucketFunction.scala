package graft.spark

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The V2 `bucket(numBuckets, doc_id)` function the graft catalog serves —
  * the hash identity that makes storage-partitioned joins SOUND.
  *
  * Graft tables written by the DSv2 sink under `option("arrange", n)`
  * (`Lineage.encodeToDir` is that write) lay rows out by Spark's own hash
  * clustering:
  * part file id = pmod(murmur3_seed42(doc_id utf8 bytes), n) — the exact
  * expression `repartition(n, col("doc_id"))` / HashPartitioning evaluates.
  * This function computes THAT value (via catalyst's Murmur3HashFunction —
  * the same code, not a reimplementation), so when the scan reports
  * KeyGroupedPartitioning over `bucket(n, doc_id)`, Spark can
  *   (a) join two same-n graft tables on doc_id with ZERO shuffle, and
  *   (b) under spark.sql.sources.v2.bucketing.shuffle.enabled, shuffle a
  *       NON-graft side directly into graft's bucketing (one exchange
  *       instead of two) — evaluating this function per row.
  *
  * The reference analog is the variant dispatch contract: encode and decode
  * must agree on one shared parameterization or the stream is garbage
  * (`/root/reference/src/pyppmd/__init__.py:81-155`); here writer layout and
  * reader-reported partitioning must agree on one hash or a join silently
  * drops rows. BucketIdentitySpec pins this function row-for-row equal to
  * Spark's repartition assignment. */
object GraftBucketFunction extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(numBuckets int, value string) -> pmod(murmur3_42(value), numBuckets)" +
      " — Spark-shuffle-identical bucket id over graft's arranged layout"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2 &&
      inputType.fields(0).dataType == IntegerType &&
      inputType.fields(1).dataType == StringType,
      s"graft bucket takes (numBuckets int, value string); got ${inputType.simpleString}")
    new GraftBucketBound
  }

  /** pmod(murmur3_42(utf8 bytes), n) — byte-identical to HashPartitioning's
    * partitionIdExpression on a single string key. */
  def bucket(numBuckets: Int, value: UTF8String): Int = {
    val h = Murmur3HashFunction.hash(value, StringType, 42L).toInt
    ((h % numBuckets) + numBuckets) % numBuckets
  }
}

/** Bound form; `canonicalName` is the identity KeyGroupedShuffleSpec compares
  * across the two join sides — one shared object keeps it trivially equal. */
final class GraftBucketBound extends ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] = Array(IntegerType, StringType)
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  override def canonicalName(): String = "graft.bucket"
  override def isResultNullable: Boolean = false
  override def isDeterministic: Boolean = true
  // MAGIC method: codegen/Invoke path when Spark evaluates the function to
  // shuffle a non-graft join side into graft's bucketing
  def invoke(numBuckets: Int, value: UTF8String): Int =
    GraftBucketFunction.bucket(numBuckets, value)
  override def produceResult(input: InternalRow): Integer =
    invoke(input.getInt(0), input.getUTF8String(1))
}
