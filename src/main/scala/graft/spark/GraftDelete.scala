package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.sources._

import graft.engine.{Lineage, SeqRow, Utf8Order}

/** `DELETE FROM graft_table WHERE ...` (DSv2 `SupportsDelete`): the filter
  * conjunction is compiled to (a) an EXACT row predicate and (b) a
  * per-chunk metadata classifier, and `Lineage.deleteRewrite` does the
  * copy-on-write work. The classifier is what makes DELETE scale-honest:
  *
  *   - Keep  — the chunk provably holds NO matching row (zone map /
  *             SrcStats disproof): byte-copied verbatim, never decoded; a
  *             partition of only-Keep chunks is never opened at all.
  *   - Drop  — the chunk provably holds ONLY matching rows (zone/SrcStats
  *             proof): removed from the manifest without a single read.
  *   - Maybe — boundary chunks only: decode, apply the exact predicate,
  *             re-encode the survivors.
  *
  * A takedown sweep over 100 TB therefore reads exactly the boundary
  * chunks of the deleted range, drops interior chunks by manifest rewrite
  * alone, and leaves every untouched partition's files untouched.
  *
  * Soundness mirrors the pruning contract (a wrong Keep would silently
  * retain or lose rows): provers are CONSERVATIVE — when metadata cannot
  * decide, the chunk goes to Maybe and the exact row predicate decides.
  * doc_id comparisons run in UTF-8 binary order (`Utf8Order`), the order
  * Spark's UTF8String comparisons and the chunk zone bounds use: the
  * classifiers are `ZonePrune.provesAll`/`mayMatch`, the same zone tests
  * scan planning prunes with. */
private[graft] object GraftDelete {

  /** Exact row predicate for ONE filter; None = shape we do not support
    * (canDeleteWhere then refuses and Spark reports the filters). */
  def rowPred(f: Filter): Option[SeqRow => Boolean] = f match {
    case EqualTo("doc_id", v: String) => Some(_.doc_id == v)
    case EqualNullSafe("doc_id", v: String) => Some(_.doc_id == v)
    case GreaterThan("doc_id", v: String) =>
      Some(r => Utf8Order.gt(r.doc_id, v))
    case GreaterThanOrEqual("doc_id", v: String) =>
      Some(r => Utf8Order.gte(r.doc_id, v))
    case LessThan("doc_id", v: String) =>
      Some(r => Utf8Order.lt(r.doc_id, v))
    case LessThanOrEqual("doc_id", v: String) =>
      Some(r => Utf8Order.lte(r.doc_id, v))
    case In("doc_id", vs) if vs.forall(_.isInstanceOf[String]) =>
      // duplicates in the IN-list are fine (the set dedups); only a
      // non-String element makes the shape untranslatable
      val set = vs.collect { case s: String => s }.toSet
      Some(r => set.contains(r.doc_id))
    case EqualTo("source", v: String) => Some(_.source == v)
    case EqualNullSafe("source", v: String) => Some(_.source == v)
    case In("source", vs) if vs.forall(_.isInstanceOf[String]) =>
      val set = vs.collect { case s: String => s }.toSet
      Some(r => set.contains(r.source))
    case EqualTo("n_tok", v: Number) =>
      val n = v.intValue; Some(_.n_tok == n)
    case GreaterThan("n_tok", v: Number) =>
      val n = v.intValue; Some(_.n_tok > n)
    case GreaterThanOrEqual("n_tok", v: Number) =>
      val n = v.intValue; Some(_.n_tok >= n)
    case LessThan("n_tok", v: Number) =>
      val n = v.intValue; Some(_.n_tok < n)
    case LessThanOrEqual("n_tok", v: Number) =>
      val n = v.intValue; Some(_.n_tok <= n)
    case In("n_tok", vs) if vs.forall(_.isInstanceOf[Number]) =>
      val set = vs.collect { case n: Number => n.intValue }.toSet
      Some(r => set.contains(r.n_tok))
    // all four graft columns are non-null by schema
    case IsNotNull("doc_id" | "tokens" | "n_tok" | "source") => Some(_ => true)
    case IsNull("doc_id" | "tokens" | "n_tok" | "source") => Some(_ => false)
    case AlwaysTrue() => Some(_ => true)
    case AlwaysFalse() => Some(_ => false)
    case And(a, b) =>
      for (pa <- rowPred(a); pb <- rowPred(b)) yield (r: SeqRow) => pa(r) && pb(r)
    case Or(a, b) =>
      for (pa <- rowPred(a); pb <- rowPred(b)) yield (r: SeqRow) => pa(r) || pb(r)
    case Not(a) => rowPred(a).map(p => (r: SeqRow) => !p(r))
    case _ => None
  }

  /** All filters compile to exact row predicates? (The canDeleteWhere
    * gate — the classifiers are always conservative, so row-predicate
    * coverage is the only hard requirement.) */
  def deletable(filters: Array[Filter]): Boolean =
    filters.forall(rowPred(_).isDefined)

  /** Bulk takedown: delete every row whose doc_id appears in `ids` — the
    * step a curation pipeline runs on a dedup loser-set or a removal list.
    * The set is collected to the driver under a loud byte cap (takedown
    * lists are thousands-to-millions of ids; `graft.delete.maxIdBytes`,
    * default 64 MB ≈ several million ids) and broadcast inside the rewrite
    * tasks' closure; chunks prune by the same binary-searched zone test
    * the IN-list scan pushdown uses, so only chunks whose [min,max] range
    * actually covers a listed id are opened. A list past the cap must be
    * split by the caller (e.g. by doc_id range) — refusing loudly beats a
    * silent driver OOM, the `graft.plan.maxChunks` stance. */
  def deleteIds(spark: SparkSession, path: String,
                ids: org.apache.spark.sql.Dataset[String],
                maxIdBytes: Long = 64L << 20): Lineage.DeleteStats = {
    import org.apache.spark.sql.functions.{col, count, lit, octet_length, sum}
    // the cap is measured on the DISTINCT set in actual UTF-8 bytes —
    // that is the set collected and broadcast below, so a duplicate-heavy
    // loser list (the natural dedup output) is not refused spuriously and
    // multi-byte ids are not under-counted (ADVICE r6)
    val distinctIds = ids.distinct()
    val stats = distinctIds
      .agg(count(lit(1)), sum(octet_length(col(ids.columns.head))))
      .collect()(0)
    val n = stats.getLong(0)
    val bytes = if (stats.isNullAt(1)) 0L else stats.getLong(1)
    require(bytes <= maxIdBytes,
      s"takedown id set is $bytes bytes over $n distinct ids " +
        s"(cap $maxIdBytes); split the delete by doc_id range, or raise " +
        "maxIdBytes")
    if (n == 0L) return Lineage.DeleteStats(0, 0, 0, 0, 0)
    val sorted = ZonePrune.sortValues(distinctIds.collect().toSeq)
    val set = sorted.toSet
    val classify: Lineage.ManifestRow => Int = { m =>
      if (m.min_doc_id == m.max_doc_id && set.contains(m.min_doc_id))
        Lineage.DeleteClass.Drop
      else if (!ZonePrune.anyInRange(sorted, m.min_doc_id, m.max_doc_id))
        Lineage.DeleteClass.Keep
      else Lineage.DeleteClass.Maybe
    }
    Lineage.deleteRewrite(spark, path, classify, r => set.contains(r.doc_id),
      affectedPids(spark, path, classify))
  }

  /** Driver-side prefilter for the rewrite job: when the table's manifest
    * is in the planning cache, classify every chunk HERE and whitelist only
    * partitions holding a non-Keep chunk — a DELETE then schedules work
    * proportional to the data it can change, not the table size (an all-
    * Keep table schedules NOTHING). None (manifest past the local gate, or
    * caching disabled) keeps the schedule-everything behavior — the 100-TB
    * path still skips untouched partitions inside tasks after one manifest
    * read each. Soundness: tasks re-classify from their own manifest read;
    * the whitelist can only skip partitions the SAME classifier proves
    * all-Keep over the SAME committed rows (single-writer contract). */
  private def affectedPids(spark: SparkSession, path: String,
                           classify: Lineage.ManifestRow => Int)
      : Option[Set[Int]] =
    // a missing/foreign table layout must surface deleteRewrite's OWN typed
    // refusal, not a listing error from the prefilter — fall through on any
    // problem (prefiltering is an optimization, never a gate)
    try ManifestCache.rowsFor(spark, path).map { rows =>
      rows.iterator.filter(m => classify(m) != Lineage.DeleteClass.Keep)
        .map(_.part_id).toSet
    } catch { case _: Exception => None }

  /** Execute the delete; returns the rewrite statistics. */
  def run(spark: SparkSession, path: String,
          filters: Array[Filter]): Lineage.DeleteStats = {
    val preds = filters.map(f => rowPred(f).getOrElse(
      throw new UnsupportedOperationException(
        s"DELETE filter not supported by the graft source: $f")))
    val pred: SeqRow => Boolean = r => preds.forall(_(r))
    val proofs = filters.map(ZonePrune.provesAll)
    val mays = filters.map(ZonePrune.mayMatch)
    val classify: Lineage.ManifestRow => Int = { m =>
      if (proofs.forall(_(m))) Lineage.DeleteClass.Drop
      else if (mays.exists(p => !p(m))) Lineage.DeleteClass.Keep
      else Lineage.DeleteClass.Maybe
    }
    Lineage.deleteRewrite(spark, path, classify, pred,
      affectedPids(spark, path, classify))
  }
}
