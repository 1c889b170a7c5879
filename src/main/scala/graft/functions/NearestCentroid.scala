package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, TypeUtils}
import org.apache.spark.sql.types._

/** Row-local argbest over a centroid array — every Lloyd loop's E-step
  * (k-means cosine argmax, PQ L2 argmin) as ONE narrow expression.
  *
  * Why (r19, guide §2.3/§2.4): the join-explode formulation
  * (`corp.join(broadcast(cent))` → k rows per vector →
  * `groupBy(vec).agg(max_by(struct(cell, v, score), …))`) carries the
  * FULL VECTOR through the aggregation buffer and its exchange — at
  * corpus scale every E-step shuffles every embedding once, purely to
  * re-attach `v` to its own argmax. Scoring the centroid array
  * row-locally instead makes assignment a NARROW map: `v` never leaves
  * its row, the per-round exchange disappears entirely, and the M-step
  * that follows partial-aggregates to (cells × dims) rows before its
  * (tiny) exchange. The centroid table rides in as ONE collected array
  * (`collect_list(struct(…))` under a broadcast, the same bytes the
  * broadcast hash relation held before — bounded by the model size,
  * which the FixedK seeding contract keeps corpus-independent).
  *
  * Result-identity contract (the oracle families pin it): scores are
  * computed with the same index-order [[DotProduct]] fold, the same
  * `round(x, 6)` (java BigDecimal.valueOf + HALF_UP, NaN/Inf passed
  * through — Spark's own double `round`), and the winner is chosen by
  * the same total order `max_by(struct(score, -cell))` /
  * `min_by(struct(score, cell))` realize: SQL struct ordering with
  * null-first fields and SQLOrderingUtil double comparison, ties to
  * the LOWEST cell id. A vector whose every candidate scores NULL
  * (zero norm under cosine) still assigns — to the lowest cell id with
  * a NULL score — exactly as the aggregate form did. An EMPTY or NULL
  * centroid array yields NULL (the join form emitted no row; callers
  * filter).
  *
  * Modes: `cosineMode = true` maximizes
  * `round6(dot(v, cv) / (aux · cAux))` (NULL unless the norm product
  * is > 0 — [[graft.ops.Similarity]]'s safeCos), `aux` = ‖v‖,
  * `cAux` = ‖cv‖. `cosineMode = false` minimizes
  * `round6(aux − 2·dot(v, cv) + cAux)` (PQ's expanded L2), `aux` =
  * v·v, `cAux` = cv·cv. Length-mismatched vectors score NULL (the
  * [[DotProduct]] corrupt-embedding contract).
  */
final class NearestScorer(
    val cosineMode: Boolean, cellType: DataType) extends Serializable {

  @transient private lazy val cellOrdering =
    TypeUtils.getInterpretedOrdering(cellType)

  /** Spark's SQLOrderingUtil.compareDoubles: -0.0 == 0.0, NaN greatest. */
  private def cmpD(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  /** Spark's Round(double, 6): NaN/Inf pass through, else
    * BigDecimal.valueOf → setScale(6, HALF_UP). */
  private def round6(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Index-order dot fold; NaN-free inputs assumed no further than
    * [[DotProduct]] does. Caller guarantees equal lengths. */
  private def dotSeq(a: ArrayData, b: ArrayData, n: Int): Double = {
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    acc
  }

  /** null (boxed Double) when the candidate can't score — the aggregate
    * form's NULL score path. */
  private def score(
      vec: ArrayData, auxNull: Boolean, aux: Double,
      cv: ArrayData, cAuxNull: Boolean, cAux: Double): java.lang.Double = {
    if (vec == null || auxNull || cv == null || cAuxNull) return null
    val n = vec.numElements()
    if (n != cv.numElements()) return null // DotProduct mismatch contract
    if (cosineMode) {
      val normProd = aux * cAux
      // Spark's `n * cn > 0` is true for NaN (NaN sorts greatest), so a
      // NaN norm product scores NaN, which wins max_by, not NULL
      if (normProd > 0 || normProd.isNaN) round6(dotSeq(vec, cv, n) / normProd) else null
    } else round6(aux - 2.0 * dotSeq(vec, cv, n) + cAux)
  }

  /** The argbest loop. `vec` may be null (all candidates score NULL —
    * still assigns to the lowest cell). Returns null only for a null
    * or empty centroid array. */
  def nearest(
      vec: ArrayData, auxNull: Boolean, aux: Double,
      cents: ArrayData): InternalRow = {
    if (cents == null) return null
    val k = cents.numElements()
    if (k == 0) return null
    var bestCell: Any = null
    var bestScore: java.lang.Double = null
    var have = false
    var i = 0
    while (i < k) {
      val c = cents.getStruct(i, 3)
      if (c != null) {
        val cell = c.get(0, cellType)
        val cv = if (c.isNullAt(1)) null else c.getArray(1)
        val cAuxNull = c.isNullAt(2)
        val cAux = if (cAuxNull) 0.0 else c.getDouble(2)
        val s = score(vec, auxNull, aux, cv, cAuxNull, cAux)
        val better =
          if (!have) true
          else {
            // struct-ordering comparison: null score field sorts FIRST
            val cs =
              if (s == null && bestScore == null) 0
              else if (s == null) -1
              else if (bestScore == null) 1
              else cmpD(s.doubleValue(), bestScore.doubleValue())
            val want = if (cosineMode) cs > 0 else cs < 0 // max_by vs min_by
            want || (cs == 0 && cellOrdering.compare(cell, bestCell) < 0)
          }
        if (better) { bestCell = cell; bestScore = s; have = true }
      }
      i += 1
    }
    if (!have) null
    else {
      val out = new GenericInternalRow(2)
      out.update(0, bestCell)
      if (bestScore == null) out.setNullAt(1) else out.setDouble(1, bestScore)
      out
    }
  }
}

/** Catalyst node for [[NearestScorer]] — stays inside whole-stage
  * codegen via a reference-object call (the [[JlProject]] pattern):
  * the k·d multiply-add loop runs in one JIT-compiled method, no row
  * fan-out, no aggregation buffer. */
case class NearestCentroid(
    vec: Expression, aux: Expression, cents: Expression,
    cosineMode: Boolean) extends Expression {

  override def children: Seq[Expression] = Seq(vec, aux, cents)

  private def centElem: Option[StructType] = cents.dataType match {
    case ArrayType(st: StructType, _) if st.fields.length == 3 => Some(st)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val vOk = vec.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    val cOk = centElem.exists { st =>
      (st.fields(1).dataType match {
        case ArrayType(DoubleType, _) => true
        case _ => false
      }) && st.fields(2).dataType == DoubleType &&
        org.apache.spark.sql.catalyst.expressions.RowOrdering
          .isOrderable(st.fields(0).dataType)
    }
    if (vOk && aux.dataType == DoubleType && cOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<double>, double, " +
        "array<struct<cell, array<double>, double>>), got " +
        s"(${vec.dataType.simpleString}, ${aux.dataType.simpleString}, " +
        s"${cents.dataType.simpleString})")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("cell_id", centElem.map(_.fields(0).dataType).getOrElse(NullType)),
    StructField("score", DoubleType)))

  override def nullable: Boolean = true

  override def prettyName: String =
    if (cosineMode) "graft_nearest_cell" else "graft_nearest_code"

  @transient private lazy val scorer =
    new NearestScorer(cosineMode, centElem.map(_.fields(0).dataType).getOrElse(NullType))

  override def eval(input: InternalRow): Any = {
    val c = cents.eval(input)
    if (c == null) return null
    val v = vec.eval(input)
    val a = aux.eval(input)
    scorer.nearest(
      v.asInstanceOf[ArrayData],
      a == null,
      if (a == null) 0.0 else a.asInstanceOf[Double],
      c.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestScorer", scorer,
      classOf[NearestScorer].getName)
    val v = vec.genCode(ctx)
    val a = aux.genCode(ctx)
    val c = cents.genCode(ctx)
    val row = classOf[InternalRow].getName
    ev.copy(code =
      code"""
        ${c.code}
        boolean ${ev.isNull} = true;
        $row ${ev.value} = null;
        if (!${c.isNull}) {
          ${v.code}
          ${a.code}
          ${ev.value} = $ref.nearest(
            ${v.isNull} ? null : ${v.value},
            ${a.isNull}, ${a.value}, ${c.value});
          ${ev.isNull} = ${ev.value} == null;
        }
      """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NearestCentroid =
    copy(vec = newChildren(0), aux = newChildren(1), cents = newChildren(2))
}

/** Column-level entry points (no registration, the
  * [[VectorFunctions]] convention). */
object NearestCentroid {
  /** argmax over `round6(dot(v, cv)/(n·cn))` — the k-means E-step.
    * `cents` = `collect_list(struct(cell_id, cv, cn))`. */
  def cosine(v: Column, n: Column, cents: Column): Column =
    GraftSqlBridge.column(NearestCentroid(
      GraftSqlBridge.expression(v), GraftSqlBridge.expression(n),
      GraftSqlBridge.expression(cents), cosineMode = true))

  /** argmin over `round6(xx − 2·dot(sv, cv) + cc)` — the PQ E-step.
    * `cents` = `collect_list(struct(cell_id, cv, cc))`. */
  def l2(sv: Column, xx: Column, cents: Column): Column =
    GraftSqlBridge.column(NearestCentroid(
      GraftSqlBridge.expression(sv), GraftSqlBridge.expression(xx),
      GraftSqlBridge.expression(cents), cosineMode = false))
}
