package graft.spark

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.sources._

import graft.engine.{Lineage, TokenSketch, Utf8Order}

/** The one zone predicate (`ZonePrune.mayMatch`, composed by
  * `GraftPlanning.chunkPredicate` for pushed filters and probes and by
  * `GraftScan.runtimePredicate` for runtime/DPP filters) admits EXACTLY
  * the chunks the two hand-written planners it replaced admitted. Those
  * planners are kept below, verbatim, as oracles. Rows are random manifest
  * rows whose doc_id zones mix ASCII, BMP characters above the surrogate
  * range and supplementary-plane characters (where UTF-8 and UTF-16 order
  * disagree), with many min == max chunks. */
class ZonePruneSpec extends AnyFunSuite with graft.GenChecks {
  import ZonePruneSpec._

  private val genId: Gen[String] =
    Gen.chooseNum(0, 4).flatMap(n => Gen.listOfN(n, Gen.oneOf(Alphabet))
      .map(_.mkString))

  private val genRow: Gen[Lineage.ManifestRow] = for {
    a <- genId
    b <- Gen.frequency(3 -> Gen.const(a), 7 -> genId) // min == max chunks
    pid <- Gen.chooseNum(0, 9)
    toks <- Gen.nonEmptyListOf(Gen.chooseNum(0, 300)).map(_.take(6).toArray)
  } yield {
    val (lo, hi) = if (Utf8Order.lte(a, b)) (a, b) else (b, a)
    val (tMin, tMax) = (toks.min, toks.max)
    Lineage.ManifestRow(pid, 0, 0L, 0, 1, toks.length.toLong, 0L, 0L, 0L, 0L,
      1L, lo, hi, tMin, tMax, TokenSketch.build(toks, tMin, tMax))
  }

  private val genRows: Gen[Vector[Lineage.ManifestRow]] =
    Gen.listOfN(200, genRow).map(_.toVector)

  /** IN-sets of 1 to 5,000 values. */
  private val genInValues: Gen[Array[Any]] =
    Gen.oneOf(1, 2, 5, 50, 500, 5000).flatMap(n =>
      Gen.listOfN(n, genId).map(_.toArray[Any]))

  /** Every doc_id shape `pushFilters` accepts. */
  private val genPushed: Gen[Filter] = Gen.oneOf(
    genId.map(v => EqualTo("doc_id", v)),
    genId.map(v => GreaterThan("doc_id", v)),
    genId.map(v => GreaterThanOrEqual("doc_id", v)),
    genId.map(v => LessThan("doc_id", v)),
    genId.map(v => LessThanOrEqual("doc_id", v)),
    genInValues.map(vs => In("doc_id", vs)))

  /** Runtime (DPP and row-level group) shapes. */
  private val genRuntime: Gen[Filter] = Gen.oneOf(
    genPushed,
    // a runtime IN-set may carry elements that are not strings
    genInValues.map(vs => In("doc_id", vs :+ null)),
    Gen.listOfN(3, Gen.chooseNum(0, 12)).map(vs =>
      In("_part_id", vs.map(Int.box).toArray[Any])),
    Gen.const(In("_part_id", Array[Any](Int.box(1), "x"))),
    Gen.chooseNum(0, 12).map(v => EqualTo("_part_id", Int.box(v))))

  private def check(name: String, rows: Vector[Lineage.ManifestRow],
                    want: Lineage.ManifestRow => Boolean,
                    got: Lineage.ManifestRow => Boolean): (Int, Int) = {
    var kept = 0
    rows.foreach { m =>
      val w = want(m)
      assert(got(m) == w, s"$name: chunk [${m.min_doc_id}, ${m.max_doc_id}] " +
        s"part ${m.part_id}: oracle $w")
      if (w) kept += 1
    }
    (kept, rows.size - kept)
  }

  test("pushed filters and probes: chunkPredicate admits exactly what " +
      "the replaced driver-side planner admitted") {
    var kept = 0; var pruned = 0
    val genCase = Gen.zip(genRows, Gen.chooseNum(0, 3).flatMap(n =>
      Gen.listOfN(n, genPushed)), Gen.listOfN(1, Gen.chooseNum(0, 300))
      .flatMap(p => Gen.oneOf(Nil, p)))
    forAll(genCase, trials = 300) { case (rows, fs, probes) =>
      val pushed = fs.toArray
      val (k, p) = check(s"pushed ${pushed.mkString(", ")} probes $probes",
        rows, pushedOracle(pushed, probes.toArray),
        GraftPlanning.chunkPredicate(pushed, probes.toArray))
      kept += k; pruned += p
    }
    assert(kept > 1000 && pruned > 1000, s"kept $kept, pruned $pruned")
  }

  test("runtime filters: runtimePredicate admits exactly what the " +
      "replaced runtime planner admitted") {
    var kept = 0; var pruned = 0
    val genCase = Gen.zip(genRows,
      Gen.chooseNum(1, 2).flatMap(n => Gen.listOfN(n, genRuntime)))
    forAll(genCase, trials = 300) { case (rows, fs) =>
      val runtime = fs.toArray
      val (k, p) = check(s"runtime ${runtime.mkString(", ")}", rows,
        runtimeOracle(runtime), GraftScan.runtimePredicate(runtime))
      kept += k; pruned += p
    }
    assert(kept > 1000 && pruned > 1000, s"kept $kept, pruned $pruned")
  }
}

object ZonePruneSpec {
  private val Alphabet: Seq[String] = Seq("a", "b", "m", "z") ++
    Seq(0xe9, 0xffff, 0x10000, 0x1f600).map(c => new String(Character.toChars(c)))

  // ---- oracles: the planners the one zone predicate replaced, verbatim ---

  /** The driver-side pushed-filter planner of `GraftPlanning`. */
  def pushedOracle(pushed: Array[Filter],
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

  /** The runtime-filter planner of `GraftScan`, with the per-pass IN-set
    * sort that fed it. */
  def runtimeOracle(runtime: Array[Filter]): Lineage.ManifestRow => Boolean = {
    val sortedIn: Map[Int, IndexedSeq[String]] =
      runtime.indices.collect {
        case i if runtime(i).isInstanceOf[In] =>
          i -> ZonePrune.sortValues(runtime(i).asInstanceOf[In].values
            .collect { case s: String => s })
      }.toMap
    m => runtimeOracleRow(runtime, m, sortedIn)
  }

  private def runtimeOracleRow(runtime: Array[Filter], m: Lineage.ManifestRow,
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
}
