package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graft.GraftBridge
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** DELETE has one predicate dialect, the V2 `Predicate`: a V1 `Filter`
  * caller converts at the edge with Spark's `Filter.toV2`. Every V1
  * shape the delete path accepts must survive that conversion — the
  * dialect accepts it, [[ManifestSink.v2ToV1]] maps it back to the same
  * filter (so partition pruning and proofs see what the V1 path saw),
  * and the predicate bound by [[ManifestSink.deletePredicate]] gives,
  * under Catalyst, the SQL three-valued answer written out below for a
  * small row grid with nulls. The session analyzer does the binding. */
class DeleteDialectSpec extends AnyFunSuite {
  private val spark = graft.TestSpark.spark // its analyzer binds each predicate

  private val schema = StructType(Seq(StructField("l", LongType),
    StructField("i", IntegerType), StructField("d", DoubleType),
    StructField("s", StringType)))

  private def row(l: Any, i: Any, d: Any, s: String): InternalRow =
    new GenericInternalRow(Array[Any](l, i, d,
      if (s == null) null else UTF8String.fromString(s)))

  // row 2 is all-null; the columns of the others order 0 < 1 < 3 except
  // `i` (1, 5, -3) and `d` (1.5, 5.0, -0.5)
  private val rows = Seq(
    row(1L, 1, 1.5, "apple"),
    row(5L, 5, 5.0, "banana"),
    row(null, null, null, null),
    row(10L, -3, -0.5, "cherry"))

  /** The bound predicate's answer per row: None = UNKNOWN. */
  private def answers(p: org.apache.spark.sql.connector.expressions.filter.Predicate,
      schema: StructType, rows: Seq[InternalRow]): Seq[Option[Boolean]] = {
    val bound = ManifestSink.deletePredicate(p, schema).get
    rows.map(r => Option(bound.eval(r)).map(_.asInstanceOf[Boolean]))
  }

  /** One character per row: T = TRUE, F = FALSE, N = UNKNOWN. */
  private def expect(spec: String): Seq[Option[Boolean]] = spec.map {
    case 'T' => Some(true); case 'F' => Some(false); case 'N' => None
  }

  private val shapes: Seq[(Filter, String)] = Seq(
    // Long literal 5 on l: below, equal, null, above
    EqualTo("l", 5L) -> "FTNF", EqualNullSafe("l", 5L) -> "FTFF",
    LessThan("l", 5L) -> "TFNF", LessThanOrEqual("l", 5L) -> "TTNF",
    GreaterThan("l", 5L) -> "FFNT", GreaterThanOrEqual("l", 5L) -> "FTNT",
    // Int literal 5 on i: below, equal, null, below
    EqualTo("i", 5) -> "FTNF", EqualNullSafe("i", 5) -> "FTFF",
    LessThan("i", 5) -> "TFNT", LessThanOrEqual("i", 5) -> "TTNT",
    GreaterThan("i", 5) -> "FFNF", GreaterThanOrEqual("i", 5) -> "FTNF",
    // Double literal 1.5 on d: equal, above, null, below
    EqualTo("d", 1.5) -> "TFNF", EqualNullSafe("d", 1.5) -> "TFFF",
    LessThan("d", 1.5) -> "FFNT", LessThanOrEqual("d", 1.5) -> "TFNT",
    GreaterThan("d", 1.5) -> "FTNF", GreaterThanOrEqual("d", 1.5) -> "TTNF",
    // String literal "banana" on s: below, equal, null, above
    EqualTo("s", "banana") -> "FTNF", EqualNullSafe("s", "banana") -> "FTFF",
    LessThan("s", "banana") -> "TFNF", LessThanOrEqual("s", "banana") -> "TTNF",
    GreaterThan("s", "banana") -> "FFNT", GreaterThanOrEqual("s", "banana") -> "FTNT",
    // null literal: every comparison is UNKNOWN, null-safe equality decides
    EqualTo("l", null) -> "NNNN", EqualNullSafe("l", null) -> "FFTF",
    LessThan("s", null) -> "NNNN", LessThanOrEqual("l", null) -> "NNNN",
    GreaterThan("d", null) -> "NNNN", GreaterThanOrEqual("i", null) -> "NNNN",
    // IN: a null member turns a miss into UNKNOWN, never FALSE
    In("l", Array(1L, 10L)) -> "TFNT", In("l", Array(5L, null)) -> "NTNN",
    In("s", Array("apple", "cherry")) -> "TFNT", In("s", Array("zzz", null)) -> "NNNN",
    IsNull("d") -> "FFTF", IsNotNull("s") -> "TTFT",
    StringStartsWith("s", "ba") -> "FTNF", StringEndsWith("s", "le") -> "TFNF",
    StringContains("s", "e") -> "TFNT",
    // FALSE dominates AND and TRUE dominates OR, even against UNKNOWN
    And(GreaterThan("l", 0L), StringStartsWith("s", "b")) -> "FTNF",
    And(IsNotNull("l"), EqualTo("l", 5L)) -> "FTFF",
    Or(IsNull("l"), LessThan("l", 2L)) -> "TFTF",
    Or(EqualTo("l", 5L), LessThan("d", 0.0)) -> "FTNT",
    Not(EqualTo("l", 5L)) -> "TFNT", Not(IsNull("s")) -> "TTFT",
    AlwaysTrue() -> "TTTT", AlwaysFalse() -> "FFFF")

  shapes.foreach { case (f, spec) =>
    test(s"$f survives toV2: accepted, maps back, evaluates three-valued") {
      val p = GraftBridge.toV2(f)
      assert(ManifestSink.supportedDeletePredicate(p, schema), s"rejected: $p")
      assert(ManifestSink.v2ToV1(p).contains(f), s"$p maps back to ${ManifestSink.v2ToV1(p)}")
      assert(answers(p, schema, rows) == expect(spec))
    }
  }

  // SQL's order, not the JVM's: strings compare by UTF-8 bytes, so U+FFFD
  // (EF BF BD) sorts below an emoji (F0 9F 98 80) although UTF-16 puts
  // the emoji's surrogate pair (D83D DE00) first; and -0.0 = 0.0
  private val orderSchema = StructType(Seq(StructField("s", StringType),
    StructField("d", DoubleType)))
  private val orderRows: Seq[InternalRow] = Seq(("a", -0.0), ("\uFFFD", 1.0),
    ("\uD83D\uDE00", 2.0)).map { case (s, d) =>
    new GenericInternalRow(Array[Any](UTF8String.fromString(s), d)) }
  Seq("strings order by UTF-8 bytes" -> LessThan("s", "\uFFFD"),
      "-0.0 equals 0.0" -> EqualTo("d", 0.0)).foreach { case (what, f) =>
    test(s"$what, as in SELECT: accepted, maps back, evaluates") {
      val p = GraftBridge.toV2(f)
      assert(ManifestSink.supportedDeletePredicate(p, orderSchema), s"rejected: $p")
      assert(ManifestSink.v2ToV1(p).contains(f), s"$p maps back to ${ManifestSink.v2ToV1(p)}")
      assert(answers(p, orderSchema, orderRows) == expect("TFF"))
    }
  }

  test("a predicate naming a column outside the schema is rejected") {
    assert(!ManifestSink.supportedDeletePredicate(GraftBridge.toV2(EqualTo("nope", 1L)), schema))
  }
}
