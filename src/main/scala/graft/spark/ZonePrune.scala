package graft.spark

import org.apache.spark.sql.sources._

import graft.engine.{Lineage, SrcStats, Utf8Order}

/** The per-chunk zone predicate: ONE copy of the manifest tests that scan
  * planning (pushed and runtime filters, driver-local or inside Spark
  * tasks) and the DELETE classifier share. ALL comparisons run in UTF-8
  * BINARY order (graft.engine.Utf8Order) — the order ChunkBuilder computed
  * min/max_doc_id in and the order Spark's UTF8String comparisons use.
  * Java String (UTF-16) order diverges for supplementary-plane characters,
  * and a divergent prune is silent ROW LOSS (a pruned chunk is
  * unrecoverable by the residual filter). Both tests are CONSERVATIVE:
  * when metadata cannot decide, `mayMatch` keeps the chunk and `provesAll`
  * claims nothing. */
private[spark] object ZonePrune {
  private type M = Lineage.ManifestRow

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

  /** TRUE only when metadata PROVES every row of the chunk matches `f`. */
  def provesAll(f: Filter): M => Boolean = f match {
    case EqualTo("doc_id", v: String) =>
      m => m.min_doc_id == v && m.max_doc_id == v
    case EqualNullSafe("doc_id", v: String) =>
      m => m.min_doc_id == v && m.max_doc_id == v
    case GreaterThan("doc_id", v: String) => m => Utf8Order.gt(m.min_doc_id, v)
    case GreaterThanOrEqual("doc_id", v: String) =>
      m => Utf8Order.gte(m.min_doc_id, v)
    case LessThan("doc_id", v: String) => m => Utf8Order.lt(m.max_doc_id, v)
    case LessThanOrEqual("doc_id", v: String) =>
      m => Utf8Order.lte(m.max_doc_id, v)
    case In("doc_id", vs) =>
      val set = vs.collect { case s: String => s }.toSet
      m => m.min_doc_id == m.max_doc_id && set.contains(m.min_doc_id)
    case EqualTo("source", v: String) =>
      m => SrcStats.decode(m.src_stats)
        .exists(es => es.nonEmpty && es.forall(_._1 == v))
    case EqualNullSafe("source", v: String) => provesAll(EqualTo("source", v))
    case In("source", vs) =>
      val set = vs.collect { case s: String => s }.toSet
      m => SrcStats.decode(m.src_stats)
        .exists(es => es.nonEmpty && es.forall(e => set.contains(e._1)))
    case IsNotNull("doc_id" | "tokens" | "n_tok" | "source") => _ => true
    case AlwaysTrue() => _ => true
    case And(a, b) =>
      val pa = provesAll(a); val pb = provesAll(b); m => pa(m) && pb(m)
    case Or(a, b) =>
      val pa = provesAll(a); val pb = provesAll(b); m => pa(m) || pb(m)
    // every row matches Not(a) iff no row can match a
    case Not(a) => val ma = mayMatch(a); m => !ma(m)
    case _ => _ => false // undecidable from metadata: never claim proof
  }

  /** FALSE only when metadata PROVES no row of the chunk matches `f`.
    * Compile once per planning pass: an IN-set is sorted here, not per
    * chunk. */
  def mayMatch(f: Filter): M => Boolean = f match {
    case EqualTo("doc_id", v: String) =>
      m => Utf8Order.gte(m.max_doc_id, v) && Utf8Order.lte(m.min_doc_id, v)
    case EqualNullSafe("doc_id", v: String) => mayMatch(EqualTo("doc_id", v))
    case GreaterThan("doc_id", v: String) => m => Utf8Order.gt(m.max_doc_id, v)
    case GreaterThanOrEqual("doc_id", v: String) =>
      m => Utf8Order.gte(m.max_doc_id, v)
    case LessThan("doc_id", v: String) => m => Utf8Order.lt(m.min_doc_id, v)
    case LessThanOrEqual("doc_id", v: String) =>
      m => Utf8Order.lte(m.min_doc_id, v)
    case In("doc_id", vs) =>
      val sorted = sortValues(vs.collect { case s: String => s })
      m => anyInRange(sorted, m.min_doc_id, m.max_doc_id)
    case EqualTo("source", v: String) =>
      // unknown stats (pre-upgrade manifest) fail OPEN: may match
      m => SrcStats.decode(m.src_stats).forall(_.exists(_._1 == v))
    case EqualNullSafe("source", v: String) => mayMatch(EqualTo("source", v))
    case In("source", vs) =>
      val set = vs.collect { case s: String => s }.toSet
      m => SrcStats.decode(m.src_stats).forall(_.exists(e => set.contains(e._1)))
    case IsNull("doc_id" | "tokens" | "n_tok" | "source") => _ => false
    case AlwaysFalse() => _ => false
    case And(a, b) =>
      val pa = mayMatch(a); val pb = mayMatch(b); m => pa(m) && pb(m)
    case Or(a, b) =>
      val pa = mayMatch(a); val pb = mayMatch(b); m => pa(m) || pb(m)
    // some row may match Not(a) unless EVERY row provably matches a
    case Not(a) => val pa = provesAll(a); m => !pa(m)
    case _ => _ => true // undecidable: may match
  }
}
