package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/** The vector-quantization kernels behind the IVF, PQ, IVF-PQ and residual
  * IVFADC paths of [[graft.operators.Similarity]]: L2 normalization,
  * nearest-centroid assignment, PQ encoding, dot tables (ADC lookup tables
  * and centroid scores), residual subtraction and the ADC sum.
  *
  * Each kernel reproduces, bit for bit, the higher-order-function SQL it
  * replaced (`transform`/`zip_with`/`aggregate` over the table inlined as
  * literal arrays — CodegenFallback, re-parsed per call): every fold runs
  * ascending from `0.0` as `a + x`; argmins are a strict `<` scan from
  * `+Infinity`, so ties go to the lowest row and a row whose distance is
  * undefined (NaN, a null element, a length mismatch) never wins; f32
  * input widens exactly as `CAST(x AS DOUBLE)`. Null elements and length
  * mismatches give the nulls `zip_with` would have given.
  *
  * Tables travel as [[VecTables]] values (codegen reference objects, never
  * literals), which compare, hash and print by content: fit memos key on
  * the canonicalized plan string and frame caches on `sameResult`, so two
  * plans built from equal tables must be equal plans. */
object VectorQuant {

  private def widen(v: ArrayData, isFloat: Boolean, i: Int): Double =
    if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)

  /** `IF(nrm = 0.0, CAST(v AS array<double>), transform(v, x -> x / nrm))`
    * with `nrm = sqrt(aggregate(v, 0.0, (a, x) -> a + x * x))`. */
  def l2normalize(v: ArrayData, isFloat: Boolean): ArrayData = {
    val n = v.numElements()
    val out = new Array[Double](n)
    var sumSq = 0.0
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return new GenericArrayData(new Array[Any](n))
      out(i) = widen(v, isFloat, i)
      sumSq += out(i) * out(i)
      i += 1
    }
    val nrm = math.sqrt(sumSq)
    if (nrm != 0.0) {
      i = 0
      while (i < n) { out(i) /= nrm; i += 1 }
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Whether `v[off, off + w)` is a defined operand: with `whole` the
    * vector must be exactly `w` long (`zip_with(v, row)`), otherwise the
    * window must lie inside it (`zip_with(slice(v, off + 1, w), row)`);
    * either way no element in it may be null. */
  private def fits(v: ArrayData, off: Int, w: Int, whole: Boolean): Boolean = {
    if (v == null) return false
    val n = v.numElements()
    if (if (whole) n != w else n < off + w) return false
    var i = off
    while (i < off + w) {
      if (v.isNullAt(i)) return false
      i += 1
    }
    true
  }

  private def sqDist(v: ArrayData, off: Int, row: Array[Double]): Double = {
    var a = 0.0
    var i = 0
    while (i < row.length) {
      val d = v.getDouble(off + i) - row(i)
      a += d * d
      i += 1
    }
    a
  }

  private def dot(v: ArrayData, off: Int, row: Array[Double]): Double = {
    var a = 0.0
    var i = 0
    while (i < row.length) {
      a += v.getDouble(off + i) * row(i)
      i += 1
    }
    a
  }

  /** Row index of the strict-`<` argmin squared distance, 0 when no
    * distance is defined. */
  private def argmin(v: ArrayData, off: Int, table: Array[Array[Double]],
                     defined: Boolean): Int = {
    var bi = 0
    if (defined) {
      var best = Double.PositiveInfinity
      var r = 0
      while (r < table.length) {
        val d = sqDist(v, off, table(r))
        if (d < best) { best = d; bi = r }
        r += 1
      }
    }
    bi
  }

  /** Cell id of the nearest row of the single table `cells`. */
  def nearestCell(v: ArrayData, cells: VecTables): Int =
    cells.ids(argmin(v, 0, cells.rows(0), fits(v, 0, cells.width, whole = true)))

  /** PQ codes: per table `s`, the argmin row index for the slice
    * `v[s * w, s * w + w)`. */
  def pqEncode(v: ArrayData, books: VecTables): ArrayData = {
    val w = books.width
    val codes = new Array[Int](books.m)
    var s = 0
    while (s < books.m) {
      codes(s) = argmin(v, s * w, books.rows(s), fits(v, s * w, w, whole = false))
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(codes)
  }

  /** Dot of `v` with every row of the single table `t`; with `cosine`, each
    * dot divided by its row's norm (0.0 for a zero row). */
  def dotTable(v: ArrayData, t: VecTables, cosine: Boolean): ArrayData = {
    val rows = t.rows(0)
    if (!fits(v, 0, t.width, whole = true))
      // every dot is null; a cosine over a zero row is still 0.0
      return new GenericArrayData(Array.tabulate[Any](rows.length) { r =>
        if (cosine && t.norms(r) == 0.0) 0.0 else null
      })
    val out = new Array[Double](rows.length)
    var r = 0
    while (r < rows.length) {
      val d = dot(v, 0, rows(r))
      val nc = t.norms(r)
      out(r) = if (!cosine) d else if (nc == 0.0) 0.0 else d / nc
      r += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** `zip_with(v, element_at(cents, pos + 1), (x, y) -> x - y)`: `pos` is
    * a row position, not a cell id. */
  def residual(v: ArrayData, pos: Int, cents: VecTables): ArrayData = {
    val rows = cents.rows(0)
    if (pos < 0 || pos >= rows.length)
      throw new ArrayIndexOutOfBoundsException(
        s"residual: row ${pos + 1} outside a ${rows.length}-row centroid table")
    val c = rows(pos)
    val n = v.numElements()
    if (fits(v, 0, c.length, whole = true)) {
      val out = new Array[Double](n)
      var i = 0
      while (i < n) { out(i) = v.getDouble(i) - c(i); i += 1 }
      UnsafeArrayData.fromPrimitiveArray(out)
    } else {
      val len = math.max(n, c.length)
      val out = new Array[Any](len)
      var i = 0
      while (i < len) {
        if (i < n && i < c.length && !v.isNullAt(i)) out(i) = v.getDouble(i) - c(i)
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  /** Whether the ADC sum is null: a null code or a null table entry. An
    * out-of-range code raises, as ANSI `element_at` does. */
  def adcIsNull(lt: ArrayData, codes: ArrayData): Boolean = {
    val m = lt.numElements()
    if (codes.numElements() < m)
      throw new ArrayIndexOutOfBoundsException(
        s"adc: ${codes.numElements()} codes for $m lookup tables")
    var isNull = false
    var s = 0
    while (s < m) {
      if (codes.isNullAt(s) || lt.isNullAt(s)) isNull = true
      else {
        val row = lt.getArray(s)
        val c = codes.getInt(s)
        if (c < 0 || c >= row.numElements())
          throw new ArrayIndexOutOfBoundsException(
            s"adc: code $c outside a ${row.numElements()}-entry lookup table")
        if (row.isNullAt(c)) isNull = true
      }
      s += 1
    }
    isNull
  }

  /** `sum over s of lt[s][codes[s]]`, subspace-ascending; call only where
    * `adcIsNull` is false. */
  def adc(lt: ArrayData, codes: ArrayData): Double = {
    val m = lt.numElements()
    var a = 0.0
    var s = 0
    while (s < m) {
      a += lt.getArray(s).getDouble(codes.getInt(s))
      s += 1
    }
    a
  }

  /** Driver-side PQ lookup tables of a normalized vector `nv`: for subspace
    * `s`, [[dotTable]] of `slice(nv, s * w + 1, w)` with codebook `s` — the
    * in-plan `array(dot_table(slice(...)), ...)`, Spark's `slice` cut
    * included (a window past the end is truncated; nulls are kept). */
  def lookupTables(nv: ArrayData, books: Seq[VecTables]): ArrayData =
    new GenericArrayData(books.indices.map { s =>
      val w = books(s).width
      val from = math.min(s * w, nv.numElements())
      val cut = new GenericArrayData(
        (from until math.min(from + w, nv.numElements())).map { i =>
          if (nv.isNullAt(i)) null else nv.getDouble(i)
        }.toArray[Any])
      dotTable(cut, books(s), cosine = false): Any
    }.toArray)

  /** Driver-side probe set: the `nProbe` cells whose centroids have the
    * highest cosine with `nv` rounded to f32 (the probe rule: normalized
    * queries in f32 against the stored centroids), ordered by (score desc
    * in Spark's double order, cell asc), so a tie goes to the lower cell. */
  def probeCells(nv: ArrayData, cells: Array[Int], cents: Array[ArrayData],
                 centFloat: Boolean, nProbe: Int): Array[Int] = {
    val f = new Array[Float](nv.numElements())
    var i = 0
    while (i < f.length) { f(i) = nv.getDouble(i).toFloat; i += 1 }
    val nvF = UnsafeArrayData.fromPrimitiveArray(f)
    cells.indices
      .map(r => (CosineSimilarity.cosine(nvF, cents(r), true, centFloat), cells(r)))
      .sortWith { case ((sa, ca), (sb, cb)) =>
        val c = SQLOrderingUtil.compareDoubles(sa, sb)
        c > 0 || (c == 0 && ca < cb)
      }
      .take(nProbe).map(_._2).toArray
  }

  private[graft] def isArrayOf(dt: DataType, et: DataType): Boolean = dt match {
    case ArrayType(`et`, _) => true
    case _                  => false
  }

  private[functions] def requireVector(name: String, dt: DataType): TypeCheckResult =
    if (isArrayOf(dt, DoubleType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$name requires array<double>, got ${dt.sql}")
}

/** `m` tables of `k` f64 rows, each `width` wide — one PQ codebook per
  * subspace, or (`m` = 1) a centroid table — with `ids(r)` labelling row
  * `r` (the cell ids of a centroid table). Compares, hashes and prints by
  * content (a SHA-256 over every id and every double's bits), so the
  * kernels holding one have value semantics. */
final class VecTables(val rows: Array[Array[Array[Double]]], val ids: Array[Int])
    extends Serializable {
  require(rows.nonEmpty && ids.nonEmpty && rows.forall(_.length == ids.length),
    "every table needs one row per id")
  val width: Int = rows(0)(0).length
  require(rows.forall(_.forall(_.length == width)), "rows of unequal width")

  def m: Int = rows.length

  /** Table `s` alone, with the same ids. */
  def table(s: Int): VecTables = new VecTables(Array(rows(s)), ids)

  /** Row norms of table 0: `sqrt` of the ascending sum of squares. */
  @transient lazy val norms: Array[Double] = rows(0).map { r =>
    var a = 0.0
    r.foreach(x => a += x * x)
    math.sqrt(a)
  }

  @transient lazy val digest: String = Digest.of { put =>
    put(m.toLong); put(ids.length.toLong); put(width.toLong)
    ids.foreach(i => put(i.toLong))
    rows.foreach(_.foreach(_.foreach(x => put(java.lang.Double.doubleToRawLongBits(x)))))
  }

  override def equals(o: Any): Boolean = o match {
    case t: VecTables => (t eq this) || t.digest == digest
    case _            => false
  }
  override def hashCode: Int = digest.hashCode
  override def toString: String = s"tables[${m}x${ids.length}x$width:${digest.take(32)}]"
}

object VecTables {
  /** A centroid table: `(cell, centroid)` rows, kept in cell order. */
  def cells(cents: Seq[(Int, Array[Double])]): VecTables = {
    val sorted = cents.sortBy(_._1)
    new VecTables(Array(sorted.map(_._2).toArray), sorted.map(_._1).toArray)
  }

  /** PQ codebooks: `books(s)(cell)`, ids `0 until ksub`. */
  def books(books: Seq[Seq[Array[Double]]]): VecTables =
    new VecTables(books.map(_.toArray).toArray, books.head.indices.toArray)
}

/** `l2_normalize(v)`: `v / |v|` in f64, a zero-norm vector passed through
  * (widened) unnormalized. */
case class L2Normalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult =
    if (VectorQuant.isArrayOf(child.dataType, FloatType) ||
        VectorQuant.isArrayOf(child.dataType, DoubleType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"l2_normalize requires array<float|double>, got ${child.dataType.sql}")

  private def isFloat = VectorQuant.isArrayOf(child.dataType, FloatType)

  override def nullSafeEval(v: Any): Any =
    VectorQuant.l2normalize(v.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.functions.VectorQuant.l2normalize($v, $isFloat)")

  override def prettyName: String = "l2_normalize"

  override protected def withNewChildInternal(newChild: Expression): L2Normalize =
    copy(child = newChild)
}

/** `nearest_cell(v)`: the id of the centroid at the least squared distance
  * (ties to the lowest cell; the first cell when no distance is defined,
  * a null vector included). */
case class NearestCell(child: Expression, cells: VecTables) extends UnaryExpression {
  require(cells.m == 1, "nearest_cell takes a single centroid table")

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    VectorQuant.requireVector(prettyName, child.dataType)

  override def eval(input: InternalRow): Any =
    VectorQuant.nearestCell(child.eval(input).asInstanceOf[ArrayData], cells)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val ref = ctx.addReferenceObj("vqCells", cells, classOf[VecTables].getName)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = false;
      int ${ev.value} = graft.functions.VectorQuant.nearestCell(
        ${c.isNull} ? null : ${c.value}, $ref);""")
  }

  override def prettyName: String = "nearest_cell"

  override protected def withNewChildInternal(newChild: Expression): NearestCell =
    copy(child = newChild)
}

/** `pq_encode(v)`: `m` PQ codes, code `s` the nearest row of codebook `s`
  * to the slice `v[s * dsub, (s + 1) * dsub)` (0 when undefined, a null
  * vector included). Codes are `array<int>` with nullable elements, the
  * type the codes tables have always been written with. */
case class PqEncode(child: Expression, books: VecTables) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    VectorQuant.requireVector(prettyName, child.dataType)

  override def eval(input: InternalRow): Any =
    VectorQuant.pqEncode(child.eval(input).asInstanceOf[ArrayData], books)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val ref = ctx.addReferenceObj("vqBooks", books, classOf[VecTables].getName)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = false;
      ${CodeGenerator.javaType(dataType)} ${ev.value} = graft.functions.VectorQuant.pqEncode(
        ${c.isNull} ? null : ${c.value}, $ref);""")
  }

  override def prettyName: String = "pq_encode"

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/** `dot_table(v)`: the dot of `v` with every row of one table — a PQ lookup
  * table when `v` is a subspace slice, centroid scores when `v` is the
  * whole vector; with `cosine`, each dot over its row's norm. A null
  * vector gives null dots, never a null table. */
case class DotTable(child: Expression, table: VecTables, cosine: Boolean)
    extends UnaryExpression {
  require(table.m == 1, "dot_table takes a single table")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    VectorQuant.requireVector(prettyName, child.dataType)

  override def eval(input: InternalRow): Any =
    VectorQuant.dotTable(child.eval(input).asInstanceOf[ArrayData], table, cosine)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val ref = ctx.addReferenceObj("vqTable", table, classOf[VecTables].getName)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = false;
      ${CodeGenerator.javaType(dataType)} ${ev.value} = graft.functions.VectorQuant.dotTable(
        ${c.isNull} ? null : ${c.value}, $ref, $cosine);""")
  }

  override def prettyName: String = "dot_table"

  override protected def withNewChildInternal(newChild: Expression): DotTable =
    copy(child = newChild)
}

/** `residual(v, pos)`: `v` minus row `pos` (0-based) of the centroid table. */
case class Residual(left: Expression, right: Expression, cents: VecTables)
    extends BinaryExpression {
  require(cents.m == 1, "residual takes a single centroid table")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult =
    if (right.dataType != IntegerType) TypeCheckResult.TypeCheckFailure(
      s"residual requires an int row position, got ${right.dataType.sql}")
    else VectorQuant.requireVector(prettyName, left.dataType)

  override def nullSafeEval(v: Any, pos: Any): Any =
    VectorQuant.residual(v.asInstanceOf[ArrayData], pos.asInstanceOf[Int], cents)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("vqCents", cents, classOf[VecTables].getName)
    defineCodeGen(ctx, ev, (v, p) =>
      s"graft.functions.VectorQuant.residual($v, $p, $ref)")
  }

  override def prettyName: String = "residual"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Residual =
    copy(left = newLeft, right = newRight)
}

/** `adc(lt, codes)`: the asymmetric-distance score, `lt[s][codes[s]]`
  * summed subspace-ascending; null on a null code or table entry. */
case class Adc(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(ArrayType(DoubleType, _), _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"adc requires array<array<double>> tables and array<int> codes, got ${l.sql} and ${r.sql}")
    }

  override def nullSafeEval(lt: Any, codes: Any): Any = {
    val (l, c) = (lt.asInstanceOf[ArrayData], codes.asInstanceOf[ArrayData])
    if (VectorQuant.adcIsNull(l, c)) null else VectorQuant.adc(l, c)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (lt, codes) => s"""
      ${ev.isNull} = graft.functions.VectorQuant.adcIsNull($lt, $codes);
      if (!${ev.isNull}) ${ev.value} = graft.functions.VectorQuant.adc($lt, $codes);""")

  override def prettyName: String = "adc"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Adc =
    copy(left = newLeft, right = newRight)
}
