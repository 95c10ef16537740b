package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native matrix·vector product: `out[i] = Σ_j mat[i][j] · vec[j]`,
  * one codegen'd call per row — the kernel under [[graft.pipeline.Ann
  * .rotateVec]]'s corpus-side OPQ rotation.
  *
  * Why an Expression (the PqArgmin story again): the SQL form
  * `transform(R, row -> aggregate(zip_with(row, x, …)))` is
  * semantically right but Spark's higher-order functions are
  * CodegenFallback — interpreted per ELEMENT, d² lambda activations
  * per row (4,096 at d = 64; measured 14.2 s over 1M vectors, i.e.
  * ~40 CPU-hours per 10⁹ vectors at rotation time — vs 3.26 s with
  * this kernel, checkpoint write included, probes/ann_recall_r17.log). A
  * flat double loop inside whole-stage codegen.
  *
  * Semantics: NULL vector → NULL result (null-intolerant, a genuinely
  * NULL array — the HOF form instead produced an array of d NULLs); a
  * dim mismatch or NULL element raises loudly (the HOF form silently
  * null-padded). The matrix is expected as a LITERAL
  * (array&lt;array&lt;double&gt;&gt;) — broadcast-by-inlining, tiny.
  */
case class MatVec(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType =
    ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "mat_vec"

  // pattern match, not an ArrayType cast (review r17): the type check
  // accepts a NullType vector (NULL in → NULL out), and a NON-FOLDABLE
  // NullType column reaches codegen — the cast would CCE there instead
  // of the promised NULL
  private lazy val vecIsFloat: Boolean = right.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val matOk = left.dataType match {
      case ArrayType(ArrayType(DoubleType, _), _) => true
      case _ => false
    }
    val vecOk = right.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case NullType => true // NULL in → NULL out
      case _ => false
    }
    if (matOk && vecOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<array<double>>, array<float|double>)," +
        s" got (${left.dataType.simpleString}, " +
        s"${right.dataType.simpleString})")
  }

  override protected def nullSafeEval(m: Any, v: Any): Any =
    MatVec.compute(m.asInstanceOf[ArrayData], v.asInstanceOf[ArrayData],
      vecIsFloat)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (m, v) =>
      s"graft.functions.MatVec.compute($m, $v, $vecIsFloat)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MatVec =
    copy(left = newLeft, right = newRight)
}

object MatVec {

  /** Column-API constructor (no SQL registration — an internal
    * rotation kernel, not user surface).
    */
  def matVec(mat: Column, vec: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge._
    column(MatVec(expression(mat), expression(vec)))
  }

  def compute(mat: ArrayData, vec: ArrayData,
              vecIsFloat: Boolean): ArrayData = {
    val d = mat.numElements()
    val n = vec.numElements()
    val out = new Array[Double](d)
    var i = 0
    while (i < d) {
      if (mat.isNullAt(i))
        throw new RuntimeException("mat_vec: NULL matrix row " + i)
      val row = mat.getArray(i)
      if (row.numElements() != n)
        throw new RuntimeException(
          s"mat_vec: matrix row $i has ${row.numElements()} columns, " +
            s"vector has $n elements — dim mismatch")
      var s = 0.0
      var j = 0
      while (j < n) {
        if (vec.isNullAt(j) || row.isNullAt(j))
          throw new RuntimeException(
            s"mat_vec: NULL element at index $j — NULL vector element " +
              "or matrix cell")
        val x = if (vecIsFloat) vec.getFloat(j).toDouble else vec.getDouble(j)
        s += row.getDouble(j) * x
        j += 1
      }
      out(i) = s
      i += 1
    }
    new GenericArrayData(out)
  }
}
