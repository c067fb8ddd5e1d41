package graft

import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression,
  InterpretedUnsafeProjection, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenFallback,
  GenerateUnsafeProjection}
import org.apache.spark.sql.types.DataType
import org.scalatest.funsuite.AnyFunSuite

/** Checks a native expression's generated code against its interpreted
  * `eval`. A DataFrame over `Seq(...).toDF` would not do: the optimizer
  * folds it into a LocalRelation by interpreted eval before any code is
  * generated.
  */
trait CodegenParity { self: AnyFunSuite =>

  /** Runs `expr`'s GENERATED code over `rows` (one value per
    * [[BoundReference]] ordinal, as UnsafeRows like a real scan's) and
    * checks every result byte-for-byte against `expr.eval`.
    * `GenerateUnsafeProjection.generate` throws on a compile error instead
    * of falling back to interpretation.
    */
  def assertCodegenMatchesEval(expr: Expression, rows: Seq[Seq[Any]]): Unit = {
    assert(!expr.isInstanceOf[CodegenFallback],
      s"${expr.prettyName} has no generated code")
    val inputTypes: Array[DataType] = expr.collect { case b: BoundReference => b }
      .sortBy(_.ordinal).map(_.dataType).toArray
    val toUnsafe = UnsafeProjection.create(inputTypes)
    val generated = GenerateUnsafeProjection.generate(Seq(expr),
      subexpressionEliminationEnabled = false)
    val evaluated = InterpretedUnsafeProjection.createProjection(
      Seq(BoundReference(0, expr.dataType, nullable = true)))
    rows.foreach { values =>
      val row = toUnsafe(InternalRow.fromSeq(
        values.map(CatalystTypeConverters.convertToCatalyst))).copy()
      val viaEval = expr.eval(row)
      val got = generated(row).copy()
      val want = evaluated(InternalRow(viaEval))
      def show(v: Any) = CatalystTypeConverters.convertToScala(v, expr.dataType)
      assert(got == want, s"${expr.prettyName} on $values: generated " +
        s"${show(got.get(0, expr.dataType))}, eval ${show(viaEval)}")
    }
  }
}
