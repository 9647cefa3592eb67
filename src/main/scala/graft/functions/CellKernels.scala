package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Native kernels for codebook cell assignment — the IVF coarse
  * quantizer and PQ codeword argmax.
  *
  * The declarative spellings score a vector against every centroid
  * either as one inlined `dot_q(vec, lit(centroid))` kernel PER CELL
  * (`Similarity.cellScores` — flat Janino cost per cell, but the
  * enclosing projection method grows linearly in the cell count and
  * crosses Janino's 64 KB method limit near ~400 cells, collapsing
  * whole-stage codegen to interpreted eval: measured 61.6 s for the
  * √n-sized IVF assignment at 200k vectors), or as
  * a broadcast join exploding n·|cells| candidate rows through a
  * grouped argmax (`pqEncodeWith`'s old shape — measured 111 s for the
  * sample-trained PQ encode at 200k). Both are the wrong slope for a
  * √n-cells quantizer.
  *
  * These kernels keep the identical exact-integer objective — argmax
  * over cells of 2·Σ q(v_i)·c_i − Σ c_i² (centroids already in milli
  * units), ties to the LARGEST cell id, top-c ordered (score desc,
  * cell desc) — but loop over the codebook as ONE reference object
  * inside ONE generated call: codegen size is flat in the cell count,
  * no candidate-row explosion, no shuffle. Spec-asserted identical to
  * the literal/join spellings ([[graft.functions.CellKernelsSpec]]).
  */
object CellKernels {

  @inline private def better(s1: Long, i1: Long, s2: Long, i2: Long): Boolean =
    s1 > s2 || (s1 == s2 && i1 > i2)

  /** Argmax cell over `q(off until off+len)`: max 2·dot − norm, ties
    * to the largest id.
    */
  private def nearestQ(
      q: Array[Long], off: Int, len: Int,
      ids: Array[Long], vecs: Array[Array[Long]], norms: Array[Long]): Long = {
    var bestS = Long.MinValue
    var bestId = Long.MinValue
    var j = 0
    while (j < ids.length) {
      val cv = vecs(j)
      val m = math.min(len, cv.length)
      var dot = 0L
      var p = 0
      while (p < m) { dot += q(off + p) * cv(p); p += 1 }
      val s = 2 * dot - norms(j)
      if (better(s, ids(j), bestS, bestId)) { bestS = s; bestId = ids(j) }
      j += 1
    }
    bestId
  }

  /** Top-`c` cells for a float vector by (score desc, cell desc) —
    * value-identical to sorting the full `cellScores` struct array
    * descending and slicing, at O(cells·c) worst instead of a per-row
    * |cells| log |cells| sort of a literal-built array.
    */
  def topCellsF(
      vec: ArrayData, ids: Array[Long], vecs: Array[Array[Long]],
      norms: Array[Long], c: Int): ArrayData = {
    val n = vec.numElements()
    val q = new Array[Long](n)
    var i = 0
    while (i < n) { q(i) = QuantizedDot.q(vec.getFloat(i)); i += 1 }
    val k = math.min(c, ids.length)
    val topS = new Array[Long](k)
    val topI = new Array[Long](k)
    var filled = 0
    var j = 0
    while (j < ids.length) {
      val cv = vecs(j)
      val m = math.min(n, cv.length)
      var dot = 0L
      var p = 0
      while (p < m) { dot += q(p) * cv(p); p += 1 }
      val s = 2 * dot - norms(j)
      val id = ids(j)
      if (filled < k || better(s, id, topS(filled - 1), topI(filled - 1))) {
        if (filled < k) filled += 1
        var ii = filled - 1
        while (ii > 0 && better(s, id, topS(ii - 1), topI(ii - 1))) {
          topS(ii) = topS(ii - 1); topI(ii) = topI(ii - 1); ii -= 1
        }
        topS(ii) = s
        topI(ii) = id
      }
      j += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(topI, filled))
  }

  /** All m trained PQ cells of a float vector in one call: quantize
    * once, per subspace argmax over that subspace's codewords (milli
    * centroids + norms indexed by sub). Identical to the broadcast-
    * join + grouped-max spelling, without the n·m·|cells| row
    * explosion.
    */
  def pqAssignF(
      vec: ArrayData, m: Int, subDim: Int,
      ids: Array[Array[Long]], vecs: Array[Array[Array[Long]]],
      norms: Array[Array[Long]]): ArrayData = {
    val n = math.min(vec.numElements(), m * subDim)
    val q = new Array[Long](n)
    var i = 0
    while (i < n) { q(i) = QuantizedDot.q(vec.getFloat(i)); i += 1 }
    val out = new Array[Long](m)
    var sub = 0
    while (sub < m) {
      val off = sub * subDim
      val len = math.max(0, math.min(subDim, n - off))
      out(sub) = nearestQ(q, off, len, ids(sub), vecs(sub), norms(sub))
      sub += 1
    }
    new GenericArrayData(out)
  }

  /** Nearest codeword of subspace `sub` for an ALREADY-quantized
    * subvector (the Lloyd-loop form over the exploded (cid, sub, qsub)
    * frame).
    */
  def nearestCellQ(
      qsub: ArrayData, sub: Int,
      ids: Array[Array[Long]], vecs: Array[Array[Array[Long]]],
      norms: Array[Array[Long]]): Long = {
    val n = qsub.numElements()
    val q = new Array[Long](n)
    var i = 0
    while (i < n) { q(i) = qsub.getLong(i); i += 1 }
    nearestQ(q, 0, n, ids(sub), vecs(sub), norms(sub))
  }
}

/** `top_cells(vec)`: `array<float> → array<long>` of the `c` best cell
  * ids by (2·dot_q − ‖c‖²) desc, ties to the largest cell. The
  * codebook rides as reference objects — generated code is flat in the
  * cell count.
  */
case class TopCells(
    child: Expression, ids: Array[Long], vecs: Array[Array[Long]],
    norms: Array[Long], c: Int) extends UnaryExpression {
  require(ids.length == vecs.length && ids.length == norms.length,
    "codebook arrays must align")
  require(c >= 1, "c must be >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "top_cells"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float>, got ${other.simpleString}")
  }
  override def nullSafeEval(v: Any): Any =
    CellKernels.topCellsF(v.asInstanceOf[ArrayData], ids, vecs, norms, c)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = CellKernels.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val idsRef = ctx.addReferenceObj("topCellIds", ids, "long[]")
    val vecsRef = ctx.addReferenceObj("topCellVecs", vecs, "long[][]")
    val normsRef = ctx.addReferenceObj("topCellNorms", norms, "long[]")
    nullSafeCodeGen(ctx, ev, in =>
      s"${ev.value} = $ref.topCellsF($in, $idsRef, $vecsRef, $normsRef, $c);")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TopCells {
  def apply(
      vec: Column, ids: Array[Long], vecs: Array[Array[Long]],
      norms: Array[Long], c: Int): Column =
    Bridge.column(TopCells(Bridge.expression(vec), ids, vecs, norms, c))
}

/** `pq_assign(vec)`: `array<float> → array<long>` of the m trained PQ
  * cells (per-subspace codebooks as reference objects).
  */
case class PqAssign(
    child: Expression, m: Int, subDim: Int,
    ids: Array[Array[Long]], vecs: Array[Array[Array[Long]]],
    norms: Array[Array[Long]]) extends UnaryExpression {
  require(ids.length == m && vecs.length == m && norms.length == m,
    s"need one codebook per subspace (m=$m)")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "pq_assign"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float>, got ${other.simpleString}")
  }
  override def nullSafeEval(v: Any): Any =
    CellKernels.pqAssignF(v.asInstanceOf[ArrayData], m, subDim, ids, vecs, norms)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = CellKernels.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val idsRef = ctx.addReferenceObj("pqIds", ids, "long[][]")
    val vecsRef = ctx.addReferenceObj("pqVecs", vecs, "long[][][]")
    val normsRef = ctx.addReferenceObj("pqNorms", norms, "long[][]")
    nullSafeCodeGen(ctx, ev, in =>
      s"${ev.value} = $ref.pqAssignF($in, $m, $subDim, $idsRef, $vecsRef, $normsRef);")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqAssign {
  def apply(
      vec: Column, m: Int, subDim: Int,
      ids: Array[Array[Long]], vecs: Array[Array[Array[Long]]],
      norms: Array[Array[Long]]): Column =
    Bridge.column(PqAssign(Bridge.expression(vec), m, subDim, ids, vecs, norms))
}

/** `pq_nearest_cell(qsub, sub)`: nearest codeword of subspace `sub`
  * for an already-quantized `array<long>` subvector — the Lloyd-loop
  * assignment over the exploded training frame.
  */
case class PqNearestCell(
    left: Expression, right: Expression,
    ids: Array[Array[Long]], vecs: Array[Array[Array[Long]]],
    norms: Array[Array[Long]]) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "pq_nearest_cell"
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<bigint>, int), got " +
          s"${l.simpleString} and ${r.simpleString}")
    }
  override def nullSafeEval(q: Any, s: Any): Any =
    CellKernels.nearestCellQ(
      q.asInstanceOf[ArrayData], s.asInstanceOf[Int], ids, vecs, norms)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = CellKernels.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val idsRef = ctx.addReferenceObj("pqIds", ids, "long[][]")
    val vecsRef = ctx.addReferenceObj("pqVecs", vecs, "long[][][]")
    val normsRef = ctx.addReferenceObj("pqNorms", norms, "long[][]")
    nullSafeCodeGen(ctx, ev, (q, s) =>
      s"${ev.value} = $ref.nearestCellQ($q, $s, $idsRef, $vecsRef, $normsRef);")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object PqNearestCell {
  def apply(
      qsub: Column, sub: Column,
      ids: Array[Array[Long]], vecs: Array[Array[Array[Long]]],
      norms: Array[Array[Long]]): Column =
    Bridge.column(PqNearestCell(
      Bridge.expression(qsub), Bridge.expression(sub), ids, vecs, norms))
}
