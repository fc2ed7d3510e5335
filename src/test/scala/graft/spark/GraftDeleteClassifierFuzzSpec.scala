package graft.spark

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.sources._

import graft.engine.{ChunkBuilder, Lineage, SeqRow}

/** Property fuzz of the DELETE classifier duals over REAL chunks and
  * random filter trees: soundness of the copy-on-write DELETE rests on
  *
  *   provesAll(f)(m)  ⇒  every row of the chunk matches f   (Drop is safe)
  *   !mayMatch(f)(m)  ⇒  no row of the chunk matches f      (Keep is safe)
  *
  * with `m` the manifest row built from the chunk's ACTUAL content
  * (zones, SrcStats) — a violation in either direction is silent row
  * retention or silent row loss. The row predicate itself is pinned
  * against a direct evaluation of the filter tree. */
class GraftDeleteClassifierFuzzSpec extends AnyFunSuite with graft.GenChecks {

  // doc ids from a SMALL alphabet incl. supplementary-plane chars so
  // zone-boundary equalities and UTF-8-vs-UTF-16 order divergence occur
  private val genDocId: Gen[String] =
    Gen.chooseNum(0, 9).flatMap { n =>
      Gen.listOfN(1 + n % 3,
        Gen.oneOf("a", "b", "m", "z", "", new String(Character.toChars(0x10000))))
        .map(_.mkString)
    }
  private val genSource: Gen[String] = Gen.oneOf("web", "books", "forum")
  private val genRow: Gen[SeqRow] = for {
    id <- genDocId
    src <- genSource
    n <- Gen.chooseNum(1, 5)
    toks <- Gen.listOfN(n, Gen.chooseNum(0, 20))
  } yield SeqRow(id, toks.toArray, n, src)

  private val genRows: Gen[Vector[SeqRow]] =
    Gen.chooseNum(1, 8).flatMap(k => Gen.listOfN(k, genRow)).map(_.toVector)

  private def genLeaf: Gen[Filter] = Gen.oneOf(
    genDocId.map(v => EqualTo("doc_id", v)),
    genDocId.map(v => GreaterThan("doc_id", v)),
    genDocId.map(v => GreaterThanOrEqual("doc_id", v)),
    genDocId.map(v => LessThan("doc_id", v)),
    genDocId.map(v => LessThanOrEqual("doc_id", v)),
    Gen.listOfN(2, genDocId).map(vs => In("doc_id", vs.toArray[Any])),
    genSource.map(v => EqualTo("source", v)),
    Gen.listOfN(2, genSource).map(vs => In("source", vs.toArray[Any])),
    Gen.chooseNum(1, 5).map(v => EqualTo("n_tok", Int.box(v))),
    Gen.chooseNum(1, 5).map(v => LessThan("n_tok", Int.box(v))),
    Gen.const(IsNotNull("doc_id")),
    Gen.const(IsNull("source")),
    Gen.const(AlwaysTrue()),
    Gen.const(AlwaysFalse()))

  private def genFilter(depth: Int): Gen[Filter] =
    if (depth <= 0) genLeaf
    else Gen.frequency(
      4 -> genLeaf,
      2 -> Gen.zip(genFilter(depth - 1), genFilter(depth - 1))
        .map { case (a, b) => And(a, b) },
      2 -> Gen.zip(genFilter(depth - 1), genFilter(depth - 1))
        .map { case (a, b) => Or(a, b) },
      1 -> genFilter(depth - 1).map(Not(_)))

  /** Ground truth: evaluate the filter tree directly on a row. */
  private def evalTruth(f: Filter, r: SeqRow): Boolean = f match {
    case EqualTo("doc_id", v: String) => r.doc_id == v
    case EqualNullSafe("doc_id", v: String) => r.doc_id == v
    case GreaterThan("doc_id", v: String) =>
      graft.engine.Utf8Order.gt(r.doc_id, v)
    case GreaterThanOrEqual("doc_id", v: String) =>
      graft.engine.Utf8Order.gte(r.doc_id, v)
    case LessThan("doc_id", v: String) =>
      graft.engine.Utf8Order.lt(r.doc_id, v)
    case LessThanOrEqual("doc_id", v: String) =>
      graft.engine.Utf8Order.lte(r.doc_id, v)
    case In("doc_id", vs) => vs.collect { case s: String => s }
      .contains(r.doc_id)
    case EqualTo("source", v: String) => r.source == v
    case In("source", vs) => vs.collect { case s: String => s }
      .contains(r.source)
    case EqualTo("n_tok", v: Number) => r.n_tok == v.intValue
    case LessThan("n_tok", v: Number) => r.n_tok < v.intValue
    case IsNotNull(_) => true
    case IsNull(_) => false
    case AlwaysTrue() => true
    case AlwaysFalse() => false
    case And(a, b) => evalTruth(a, r) && evalTruth(b, r)
    case Or(a, b) => evalTruth(a, r) || evalTruth(b, r)
    case Not(a) => !evalTruth(a, r)
    case other => fail(s"truth evaluator lacks $other")
  }

  private def manifestOf(rows: Vector[SeqRow]): Lineage.ManifestRow = {
    val c = ChunkBuilder.build(0, 0, rows.map(_.doc_id).toArray,
      rows.map(_.source).toArray, rows.flatMap(_.tokens).toArray,
      rows.map(_.n_tok).toArray)
    Lineage.ManifestRow(0, 0, c.chunk_id, c.codec, c.n_rows, c.n_tokens,
      c.raw_bytes, c.enc_bytes, c.crc32, 0L, 1L, c.min_doc_id, c.max_doc_id,
      c.min_tok, c.max_tok, c.tok_set, c.src_stats)
  }

  test("classifier duals are conservative on 400 random (chunk, filter) " +
      "pairs, and rowPred agrees with direct evaluation") {
    forAll(Gen.zip(genRows, genFilter(3)), trials = 400) { case (rows, f) =>
      val m = manifestOf(rows)
      val truth = rows.map(r => evalTruth(f, r))
      GraftDelete.rowPred(f).foreach { p =>
        rows.zip(truth).foreach { case (r, t) =>
          assert(p(r) == t, s"rowPred diverges on $r for $f")
        }
      }
      if (ZonePrune.provesAll(f)(m))
        assert(truth.forall(identity),
          s"provesAll claimed Drop but a row survives: $f over " +
            s"${rows.map(_.doc_id)}")
      if (!ZonePrune.mayMatch(f)(m))
        assert(!truth.exists(identity),
          s"mayMatch claimed Keep but a row matches: $f over " +
            s"${rows.map(_.doc_id)}")
    }
  }

  test("the classifiers are USEFULLY tight: across the trial corpus some " +
      "chunks classify Drop and some Keep (all-Maybe would be sound but " +
      "would decode the world)") {
    var drops = 0; var keeps = 0
    forAll(Gen.zip(genRows, genFilter(2)), trials = 400) { case (rows, f) =>
      val m = manifestOf(rows)
      if (ZonePrune.provesAll(f)(m)) drops += 1
      if (!ZonePrune.mayMatch(f)(m)) keeps += 1
    }
    assert(drops > 10, s"only $drops Drop classifications in 400 trials")
    assert(keeps > 10, s"only $keeps Keep classifications in 400 trials")
  }
}
