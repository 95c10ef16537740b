package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native PQ encode kernel: the per-(vector, block) nearest-sub-
  * centroid argmin under the repo's round-then-rank semantics —
  * `round(d2, 6)` ascending, lowest code on ties — as ONE codegen'd
  * call per row.
  *
  * Why an Expression (the build-brief preference ladder's tier (b)):
  * this is THE hot kernel of PQ encode, running kCodes·subDim
  * multiply-adds per (vector, block) row of the corpus. The SQL
  * higher-order-function form (`aggregate(transform(...))`) has
  * identical semantics but Spark's HOFs are CodegenFallback —
  * interpreted per ELEMENT, allocating per candidate — measured
  * 894 s for a 1M-vector encode at the standard kCodes = 256 where
  * this kernel does the same work in 4.6 s with bit-identical output
  * (probes/ann_recall_r17.log; 109 s → 1.95 s at
  * kCodes = 32).
  *
  * Tie semantics, bit-compatible with the historical window shape
  * (`row_number OVER (ORDER BY round(d2, 6), code)`): pass 1 finds the
  * raw d2 minimum in fixed code order (the element sum runs in fixed
  * index order — deterministic IEEE); `r0 = round(rawMin, 6)` is the
  * minimum ROUNDED distance (round is monotone); pass 2 returns the
  * first code (codes are sorted ascending by the caller) whose
  * round(d2, 6) == r0 — rounding is only evaluated inside the
  * ±1.5e-6 band around the raw minimum, so the BigDecimal HALF_UP
  * step (Spark's own double-round) runs ~once per row, not per
  * candidate.
  *
  * NULL/dim-mismatch semantics match the guarded window shape: a
  * missing element (vector too short for the block span) or a NULL
  * element raises with the vector id, never silently wins or skips.
  *
  * @param vec    full vector, array&lt;float&gt; or array&lt;double&gt;
  * @param offset start of this block's span in `vec` (= blk · subDim)
  * @param cents  this block's centroids, array&lt;array&lt;double&gt;&gt;,
  *               CODE-ASC ordered
  * @param codes  the matching code ids, array&lt;bigint&gt;, same order
  * @param id     the vector id, for the error message only — BIGINT
  *               or STRING typed (r18, advice fix + review): an
  *               integral id passes as a primitive long (zero
  *               allocation on the happy path — the production case),
  *               any other id type casts to string (a no-op for
  *               string ids), so the kernel never narrows the window
  *               shape's accepted inputs the way the original
  *               long-only slot did (a non-numeric string id cast to
  *               NULL and failed every row); see [[graft.pipeline
  *               .Ann]]'s call sites for the dispatch
  */
case class PqArgmin(vec: Expression, offset: Expression, cents: Expression,
                    codes: Expression, id: Expression, who: String)
    extends Expression {

  override def children: Seq[Expression] = Seq(vec, offset, cents, codes, id)
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  // NOT nullIntolerant (r18, advice fix): nullIntolerant=true lets
  // NullPropagation fold a foldable typed-null argument to
  // Literal(null, LongType) at OPTIMIZATION time — silently emitting
  // NULL codes and bypassing the loud NULL raise that eval/doGenCode
  // implement (and contradicting nullable=false above).
  override def nullIntolerant: Boolean = false
  override def prettyName: String = "pq_argmin"

  private lazy val vecIsFloat: Boolean =
    vec.dataType.asInstanceOf[ArrayType].elementType == FloatType

  private lazy val idIsLong: Boolean = id.dataType == LongType

  override def checkInputDataTypes(): TypeCheckResult = {
    val vecOk = vec.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    val centsOk = cents.dataType match {
      case ArrayType(ArrayType(DoubleType, _), _) => true
      case _ => false
    }
    val codesOk = codes.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    // id slot: bigint (primitive, zero-alloc — the production path),
    // any StringType instance (collation-agnostic — only the raw
    // bytes reach an error message), or NullType (a NULL id raises
    // loudly at eval, same as a NULL embedding)
    val idOk = id.dataType == LongType ||
      id.dataType.isInstanceOf[StringType] ||
      id.dataType == NullType
    if (vecOk && centsOk && codesOk && offset.dataType == IntegerType &&
      idOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<float|double>, int, " +
        s"array<array<double>>, array<bigint>, bigint|string), got (" +
        children.map(_.dataType.simpleString).mkString(", ") + ")")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = vec.eval(input)
    val o = offset.eval(input)
    val ce = cents.eval(input)
    val co = codes.eval(input)
    val i = id.eval(input)
    if (v == null || o == null || ce == null || co == null || i == null)
      throw new RuntimeException(
        s"$who: NULL input to pq_argmin for id ${if (i == null) "?" else i}" +
          " — NULL embedding or codebook row")
    val (idL, idS) = i match {
      case l: java.lang.Long => (l.longValue(), null: UTF8String)
      case s: UTF8String     => (0L, s)
      case other             => (0L, UTF8String.fromString(other.toString))
    }
    PqArgmin.compute(v.asInstanceOf[ArrayData], vecIsFloat,
      o.asInstanceOf[Int], ce.asInstanceOf[ArrayData],
      co.asInstanceOf[ArrayData], idL, idS, who)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val vg = vec.genCode(ctx); val og = offset.genCode(ctx)
    val cg = cents.genCode(ctx); val kg = codes.genCode(ctx)
    val ig = id.genCode(ctx)
    val whoLit = ctx.addReferenceObj("who", who, "java.lang.String")
    // error-tag slots for compute: a long id stays primitive (no
    // per-row allocation); a string id passes its UTF8String through
    val (idLongArg, idStrArg) =
      if (idIsLong) (s"${ig.value}", "null") else ("0L", s"${ig.value}")
    // NULL raise includes the id when it is itself non-null (review
    // r18: the codegen path dropped the tag eval carries) — the
    // String.valueOf boxes only inside the throw branch. A NullType
    // id child generates a bare `null` whose String.valueOf overload
    // is ambiguous to janino, so it renders "?" directly.
    val idDisplay =
      if (id.dataType == NullType) "\"?\""
      else s"""(${ig.isNull} ? "?" : String.valueOf(${ig.value}))"""
    ev.copy(isNull = FalseLiteral,
      code = code"""
         |${vg.code}
         |${og.code}
         |${cg.code}
         |${kg.code}
         |${ig.code}
         |if (${vg.isNull} || ${og.isNull} || ${cg.isNull} ||
         |    ${kg.isNull} || ${ig.isNull}) {
         |  throw new RuntimeException($whoLit +
         |    ": NULL input to pq_argmin for id " + $idDisplay +
         |    " — NULL embedding or codebook row");
         |}
         |long ${ev.value} = graft.functions.PqArgmin.compute(
         |  ${vg.value}, $vecIsFloat, ${og.value}, ${cg.value},
         |  ${kg.value}, $idLongArg, $idStrArg, $whoLit);
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): PqArgmin =
    copy(vec = newChildren(0), offset = newChildren(1),
      cents = newChildren(2), codes = newChildren(3), id = newChildren(4))
}

object PqArgmin {

  /** Column-API constructor (no SQL registration — the kernel is an
    * internal encode detail, not user surface).
    */
  def argmin(vec: Column, offset: Column, cents: Column, codes: Column,
             id: Column, who: String): Column = {
    import org.apache.spark.sql.GraftColumnBridge._
    column(PqArgmin(expression(vec), expression(offset), expression(cents),
      expression(codes), expression(id), who))
  }

  private def round6(d: Double): Double =
    java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** See the class doc for the two-pass round-then-rank contract.
    * The error tag is `idStr` when non-null, else `idLong` — both
    * allocation-free on the happy path (the display string is built
    * only inside a throw branch).
    */
  def compute(vec: ArrayData, vecIsFloat: Boolean, offset: Int,
              cents: ArrayData, codes: ArrayData,
              idLong: Long, idStr: UTF8String,
              who: String): Long = {
    def idTag: String = if (idStr != null) idStr.toString
                        else String.valueOf(idLong)
    val k = cents.numElements()
    if (k == 0 || codes.numElements() != k)
      throw new RuntimeException(
        s"$who: empty or misaligned codebook for id $idTag " +
          s"(${k} centroids, ${codes.numElements()} codes)")
    val n = vec.numElements()
    var rawMin = Double.PositiveInfinity
    var c = 0
    while (c < k) {
      val cent = cents.getArray(c)
      val sub = cent.numElements()
      if (offset + sub > n)
        throw new RuntimeException(
          s"$who: NULL distance for vid $idTag — embedding dim mismatch " +
            "vs centroid, NULL embedding, or NULL element")
      var d2 = 0.0
      var j = 0
      while (j < sub) {
        if (vec.isNullAt(offset + j) || cent.isNullAt(j))
          throw new RuntimeException(
            s"$who: NULL distance for vid $idTag — embedding dim mismatch " +
              "vs centroid, NULL embedding, or NULL element")
        val x = if (vecIsFloat) vec.getFloat(offset + j).toDouble
                else vec.getDouble(offset + j)
        val dv = x - cent.getDouble(j)
        d2 += dv * dv
        j += 1
      }
      if (d2 < rawMin) rawMin = d2
      c += 1
    }
    // all-NaN/Infinity distances leave rawMin at +Infinity (review
    // r17): round6 would throw an opaque NumberFormatException with no
    // vid — raise the contract's loud, tagged error instead. (The old
    // window shape silently handed such a vector the lowest code —
    // garbage codes for a corrupt vector; loud is the repo rule.)
    if (rawMin.isInfinite || rawMin.isNaN)
      throw new RuntimeException(
        s"$who: no finite distance for vid $idTag — NaN or overflowing " +
          "embedding values")
    val r0 = round6(rawMin)
    // first code (ascending order) whose rounded distance equals the
    // minimum rounded distance; only the ±band near rawMin can qualify
    c = 0
    while (c < k) {
      val cent = cents.getArray(c)
      val sub = cent.numElements()
      var d2 = 0.0
      var j = 0
      while (j < sub) {
        val x = if (vecIsFloat) vec.getFloat(offset + j).toDouble
                else vec.getDouble(offset + j)
        val dv = x - cent.getDouble(j)
        d2 += dv * dv
        j += 1
      }
      if (d2 <= rawMin + 1.5e-6 && round6(d2) == r0)
        return codes.getLong(c)
      c += 1
    }
    throw new IllegalStateException(
      s"$who: pq_argmin found no winner for id $idTag — unreachable")
  }
}
