package graft.functions

import java.nio.ByteBuffer
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The SHA-256 content digest by which the tables that kernels carry
  * ([[VecTables]], [[ProbeBatch]], [[TermBatch]]) compare, hash and
  * print: plans built from equal tables are equal plans. */
private[functions] object Digest {
  def of(feed: (Long => Unit) => Unit): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val buf = ByteBuffer.allocate(8)
    feed { l => buf.clear(); buf.putLong(l); md.update(buf.array()) }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Every element's bits, a null as its own marker. */
  def array(put: Long => Unit, a: ArrayData, isFloat: Boolean): Unit =
    if (a == null) put(-1L)
    else {
      put(a.numElements().toLong)
      var i = 0
      while (i < a.numElements()) {
        if (a.isNullAt(i)) put(Long.MinValue)
        else if (isFloat) put(java.lang.Float.floatToRawIntBits(a.getFloat(i)).toLong)
        else put(java.lang.Double.doubleToRawLongBits(a.getDouble(i)))
        i += 1
      }
    }
}

/** The per-batch tables of a serving request are computed on the driver
  * and carried into the ADC, re-rank and BM25 expressions by reference
  * (`ctx.addReferenceObj`), the way [[VecTables]] carries a codebook: a
  * batch table is never a broadcast join and never a literal, so the
  * generated code of a serving plan is the same for every batch.
  *
  * One IVF-PQ probe batch: per query (row `r`, id `qids(r)`), its probed
  * cells, its ADC lookup tables `lts(r)` (`array<array<double>>`, subspace
  * major) and its raw embedding `embs(r)` (f32 when `embFloat`). */
final class ProbeBatch(val qids: Array[Long], val cells: Array[Array[Int]],
                       val lts: Array[ArrayData], val embs: Array[ArrayData],
                       val embFloat: Boolean) extends Serializable {
  require(cells.length == qids.length && lts.length == qids.length &&
    embs.length == qids.length, "one cell list, table and embedding per query")
  require(qids.distinct.length == qids.length, "query ids must be distinct")

  /** Query id -> row. */
  @transient lazy val rowOf: java.util.HashMap[Long, Integer] = {
    val m = new java.util.HashMap[Long, Integer](qids.length * 2)
    qids.indices.foreach(r => m.put(qids(r), Integer.valueOf(r)))
    m
  }

  /** Cell -> the rows that probe it, ascending. */
  @transient lazy val rowsOf: java.util.HashMap[Integer, Array[Int]] = {
    val m = new java.util.HashMap[Integer, Array[Int]]()
    cells.indices.flatMap(r => cells(r).map(_ -> r)).groupBy(_._1).foreach {
      case (c, rs) => m.put(Integer.valueOf(c), rs.map(_._2).sorted.toArray)
    }
    m
  }

  @transient lazy val digest: String = Digest.of { put =>
    put(qids.length.toLong)
    put(if (embFloat) 1L else 0L)
    qids.indices.foreach { r =>
      put(qids(r))
      put(cells(r).length.toLong)
      cells(r).foreach(c => put(c.toLong))
      val lt = lts(r)
      put(lt.numElements().toLong)
      (0 until lt.numElements()).foreach(s =>
        Digest.array(put, if (lt.isNullAt(s)) null else lt.getArray(s), isFloat = false))
      Digest.array(put, embs(r), embFloat)
    }
  }

  override def equals(o: Any): Boolean = o match {
    case b: ProbeBatch => (b eq this) || b.digest == digest
    case _             => false
  }
  override def hashCode: Int = digest.hashCode
  override def toString: String = s"probe_batch[${qids.length}:${digest.take(32)}]"
}

/** One BM25 batch's terms: query `q`'s `i`-th term, in the query's own
  * order, for every `(q, terms)` pair. */
final class TermBatch(val terms: Seq[(Long, Seq[String])]) extends Serializable {

  /** Token -> its `(query_id, idx)` structs, in batch order. */
  @transient lazy val slots: java.util.HashMap[UTF8String, ArrayData] = {
    val m = new java.util.HashMap[UTF8String, ArrayData]()
    terms.flatMap { case (q, ts) => ts.zipWithIndex.map { case (t, i) => (t, q, i) } }
      .groupBy(_._1).foreach { case (t, hits) =>
        m.put(UTF8String.fromString(t), new GenericArrayData(hits.map { case (_, q, i) =>
          new GenericInternalRow(Array[Any](q, i)): Any
        }.toArray))
      }
    m
  }

  @transient lazy val digest: String = Digest.of { put =>
    put(terms.size.toLong)
    terms.foreach { case (q, ts) =>
      put(q)
      put(ts.size.toLong)
      ts.foreach { t =>
        val b = t.getBytes("UTF-8")
        put(b.length.toLong)
        b.foreach(x => put(x.toLong))
      }
    }
  }

  override def equals(o: Any): Boolean = o match {
    case t: TermBatch => (t eq this) || t.digest == digest
    case _            => false
  }
  override def hashCode: Int = digest.hashCode
  override def toString: String = s"term_batch[${terms.size}:${digest.take(32)}]"
}

/** The static helpers the batch expressions' generated code calls. */
object ServingBatch {

  private val Empty: ArrayData = new GenericArrayData(Array.empty[Any])

  /** One `(query_id, adc)` struct per query of the batch that probes
    * `cell`, in row order; `adc` is null where [[VectorQuant.adcIsNull]]
    * says so (a null code vector included). */
  def probeAdc(cellIsNull: Boolean, cell: Int, codes: ArrayData,
               b: ProbeBatch): ArrayData = {
    if (cellIsNull) return Empty
    val rows = b.rowsOf.get(Integer.valueOf(cell))
    if (rows == null) return Empty
    val out = new Array[Any](rows.length)
    var i = 0
    while (i < rows.length) {
      val lt = b.lts(rows(i))
      val score: Any =
        if (codes == null || VectorQuant.adcIsNull(lt, codes)) null
        else VectorQuant.adc(lt, codes)
      out(i) = new GenericInternalRow(Array[Any](b.qids(rows(i)), score))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** The batch row of `qid`, -1 when the batch has no such query or no
    * embedding for it. */
  def rowOf(b: ProbeBatch, qid: Long): Int = {
    val r = b.rowOf.get(qid)
    if (r == null || b.embs(r.intValue()) == null) -1 else r.intValue()
  }

  /** `cosine_similarity(embedding, query_embedding)` of batch row `r`. */
  def cosine(embedding: ArrayData, isFloat: Boolean, b: ProbeBatch, r: Int): Double =
    CosineSimilarity.cosine(embedding, b.embs(r), isFloat, b.embFloat)

  /** The `(query_id, idx)` structs of `token` (empty when no query of the
    * batch has it, or the token is null). */
  def queryTerms(token: UTF8String, t: TermBatch): ArrayData =
    if (token == null) Empty
    else {
      val hits = t.slots.get(token)
      if (hits == null) Empty else hits
    }
}

/** `probe_adc(cell, codes)`: for every query of the batch that probes
  * `cell`, a `(query_id, adc)` struct — the code row's ADC score against
  * that query's lookup tables. `inline` it into one candidate row per
  * (query, code row); a cell no query probes yields none. */
case class ProbeAdc(left: Expression, right: Expression, batch: ProbeBatch)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("adc", DoubleType, nullable = true))), containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (IntegerType, ArrayType(IntegerType, _)) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"probe_adc requires an int cell and array<int> codes, got ${l.sql} and ${r.sql}")
    }

  override def eval(input: InternalRow): Any = {
    val c = left.eval(input)
    ServingBatch.probeAdc(c == null, if (c == null) 0 else c.asInstanceOf[Int],
      right.eval(input).asInstanceOf[ArrayData], batch)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = left.genCode(ctx)
    val codes = right.genCode(ctx)
    val ref = ctx.addReferenceObj("probeBatch", batch, classOf[ProbeBatch].getName)
    ev.copy(code = code"""
      ${c.code}
      ${codes.code}
      boolean ${ev.isNull} = false;
      ${classOf[ArrayData].getName} ${ev.value} = graft.functions.ServingBatch.probeAdc(
        ${c.isNull}, ${c.value}, ${codes.isNull} ? null : ${codes.value}, $ref);""")
  }

  override def prettyName: String = "probe_adc"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ProbeAdc =
    copy(left = newLeft, right = newRight)
}

/** `query_cosine(query_id, embedding)`: the cosine of `embedding` with the
  * batch query's own embedding; null for a query outside the batch. */
case class QueryCosine(left: Expression, right: Expression, batch: ProbeBatch)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != LongType) TypeCheckResult.TypeCheckFailure(
      s"query_cosine requires a bigint query id, got ${left.dataType.sql}")
    else right.dataType match {
      case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"query_cosine requires array<float|double>, got ${t.sql}")
    }

  private def isFloat = VectorQuant.isArrayOf(right.dataType, FloatType)

  override def nullSafeEval(qid: Any, emb: Any): Any = {
    val r = ServingBatch.rowOf(batch, qid.asInstanceOf[Long])
    if (r < 0) null
    else ServingBatch.cosine(emb.asInstanceOf[ArrayData], isFloat, batch, r)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("probeBatch", batch, classOf[ProbeBatch].getName)
    val row = ctx.freshName("row")
    nullSafeCodeGen(ctx, ev, (qid, emb) => s"""
      int $row = graft.functions.ServingBatch.rowOf($ref, $qid);
      ${ev.isNull} = $row < 0;
      if (!${ev.isNull}) ${ev.value} =
        graft.functions.ServingBatch.cosine($emb, $isFloat, $ref, $row);""")
  }

  override def prettyName: String = "query_cosine"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): QueryCosine =
    copy(left = newLeft, right = newRight)
}

/** `query_terms(token)`: a `(query_id, idx)` struct for every query of the
  * batch whose `idx`-th term is `token`; `inline` it into one hit row per
  * (query, term) — a token of no query yields none. */
case class QueryTerms(child: Expression, terms: TermBatch) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("idx", IntegerType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"query_terms requires a string token, got ${child.dataType.sql}")

  override def eval(input: InternalRow): Any =
    ServingBatch.queryTerms(child.eval(input).asInstanceOf[UTF8String], terms)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = child.genCode(ctx)
    val ref = ctx.addReferenceObj("termBatch", terms, classOf[TermBatch].getName)
    ev.copy(code = code"""
      ${t.code}
      boolean ${ev.isNull} = false;
      ${classOf[ArrayData].getName} ${ev.value} = graft.functions.ServingBatch.queryTerms(
        ${t.isNull} ? null : ${t.value}, $ref);""")
  }

  override def prettyName: String = "query_terms"

  override protected def withNewChildInternal(newChild: Expression): QueryTerms =
    copy(child = newChild)
}
