package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.util.Random

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftFunctions.{adc, dot_table, l2_normalize, nearest_cell, pq_encode, residual}
import graft.functions.VecTables
import graft.operators.{Memo, PlanCache, Similarity}

/** The vector-quantization kernels against the higher-order-function SQL
  * they replaced, kept here as the reference implementation: tables
  * inlined as literal arrays, `transform`/`zip_with`/`aggregate` folds. */
object HofReference {

  def arraySql(v: Seq[Double]): String = v.map(_.toString).mkString("array(", ", ", ")")
  def tableSql(t: Seq[Array[Double]]): String = t.map(r => arraySql(r.toSeq)).mkString("array(", ", ", ")")

  def normalize(embCol: String): Column =
    expr(s"""IF(sqrt(aggregate($embCol, CAST(0.0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) = 0.0,
      CAST($embCol AS array<double>),
      transform($embCol, x -> CAST(x AS DOUBLE) / sqrt(aggregate($embCol, CAST(0.0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""")

  private def argminSql(d2: String): String =
    s"""aggregate(sequence(1, size($d2)),
          named_struct('bd', CAST('Infinity' AS DOUBLE), 'bi', 1),
          (acc, i) -> IF($d2[i-1] < acc.bd, named_struct('bd', $d2[i-1], 'bi', i), acc),
          acc -> acc.bi)"""

  private def d2Sql(nv: String, centsSql: String): String =
    s"transform($centsSql, c -> aggregate(zip_with($nv, c, (x, y) -> (x - y) * (x - y)), CAST(0.0 AS DOUBLE), (a, x) -> a + x))"

  /** `assignNv`: nearest centroid, mapped to the cell id. */
  def nearestCell(nv: String, cents: Seq[(Int, Array[Double])]): Column = {
    val sorted = cents.sortBy(_._1)
    val cellIds = sorted.map(_._1).mkString("array(", ", ", ")")
    expr(s"element_at($cellIds, ${argminSql(d2Sql(nv, tableSql(sorted.map(_._2))))})")
  }

  /** `assignCells`: the same over f32 centroids written as widened doubles. */
  def nearestCellF32(nv: String, cents: Seq[(Int, Seq[Float])]): Column = {
    val sorted = cents.sortBy(_._1)
    val centsSql = sorted.map { case (_, c) =>
      c.map(v => v.toDouble.toString).mkString("array(", ", ", ")")
    }.mkString("array(", ", ", ")")
    val cellIds = sorted.map(_._1).mkString("array(", ", ", ")")
    expr(s"element_at($cellIds, ${argminSql(d2Sql(nv, centsSql))})")
  }

  /** `withSubCodes` + `codesArrayExpr`. */
  def pqEncode(df: DataFrame, nv: String, cbs: Seq[Seq[Array[Double]]], dsub: Int,
               out: String): DataFrame = {
    val withCodes = cbs.zipWithIndex.foldLeft(df) { case (d, (cb, s)) =>
      d.withColumn(s"__d2_$s", expr(d2Sql(s"slice($nv, ${s * dsub + 1}, $dsub)", tableSql(cb))))
        .withColumn(s"__c_$s", expr(s"${argminSql(s"__d2_$s")} - 1"))
        .drop(s"__d2_$s")
    }
    withCodes.withColumn(out, expr(cbs.indices.map(s => s"__c_$s").mkString("array(", ", ", ")")))
      .drop(cbs.indices.map(s => s"__c_$s"): _*)
  }

  private def dotSql(v: String, centsSql: String): String =
    s"transform($centsSql, c -> aggregate(zip_with($v, c, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (a, x) -> a + x))"

  /** `pqLookupTables`' `lt` array. */
  def lookupTables(nv: String, cbs: Seq[Seq[Array[Double]]], dsub: Int): Column =
    expr(cbs.zipWithIndex.map { case (cb, s) =>
      dotSql(s"slice($nv, ${s * dsub + 1}, $dsub)", tableSql(cb))
    }.mkString("array(", ", ", ")"))

  /** The centroid base scores `__bs`. */
  def dots(nv: String, cents: Seq[Array[Double]]): Column = expr(dotSql(nv, tableSql(cents)))

  /** The centroid cosine scores `__cs`. */
  def cosines(nv: String, cents: Seq[Array[Double]]): Column = {
    val cnorms = cents.map(c => math.sqrt(c.map(x => x * x).sum).toString)
      .mkString("array(", ", ", ")")
    expr(s"""zip_with(${dotSql(nv, tableSql(cents))}, $cnorms,
      (d, nc) -> IF(nc = 0.0D, CAST(0.0 AS DOUBLE), d / nc))""")
  }

  def residual(nv: String, cell: String, cents: Seq[Array[Double]]): Column =
    expr(s"zip_with($nv, element_at(${tableSql(cents)}, $cell + 1), (x, y) -> x - y)")

  def adc(m: Int): Column = expr(
    s"""aggregate(sequence(1, $m), CAST(0.0 AS DOUBLE),
          (a, s) -> a + element_at(element_at(lt, s), element_at(codes, s) + 1))""")
}

class VectorQuantSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dim = 8
  private val dsub = 2
  private val m = dim / dsub

  private def gaussian(rnd: Random, n: Int): Array[Double] = Array.fill(n)(rnd.nextGaussian())

  /** Seeded f32 and f64 vectors plus the planted rows: a zero vector, a
    * NaN element, a null element, a short vector and exact ties against
    * [[cents]] and [[books]] (rows 90-93). */
  private def vectors(seed: Long): DataFrame = {
    val rnd = new Random(seed)
    val random = (0 until 80).map(i => (i, gaussian(rnd, dim).map(x => (x * (1 + i % 3)).asInstanceOf[Any]).toSeq))
    val e0 = Seq.tabulate[Any](dim)(i => if (i == 0) 1.0 else 0.0)
    val planted = Seq(
      90 -> Seq.fill[Any](dim)(0.0),
      91 -> Seq.fill[Any](dim)(-0.0),
      92 -> e0,
      93 -> Seq.tabulate[Any](dim)(i => if (i % 2 == 0) 0.5 else 0.0),
      94 -> e0.updated(2, Double.NaN),
      95 -> e0.updated(5, null),
      96 -> e0.take(dim - 1),
      97 -> Seq.tabulate[Any](dim)(i => if (i == 3) Double.NaN else 0.25))
    val rows = (random ++ planted).map { case (id, v) =>
      Row(id, v.map(x => if (x == null) null else x.asInstanceOf[Double].toFloat), v)
    }
    val schema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("vf", ArrayType(FloatType, containsNull = true)),
      StructField("vd", ArrayType(DoubleType, containsNull = true))))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .union(Seq[(Int, Seq[Float], Seq[Double])]((99, null, null)).toDF("id", "vf", "vd"))
  }

  /** Centroids with non-contiguous ids, a duplicated row (a tie on every
    * vector), e1/e2 (an exact tie for e0) and a zero row. */
  private def cents(seed: Long): Seq[(Int, Array[Double])] = {
    val rnd = new Random(seed + 1)
    val e = (k: Int) => Array.tabulate(dim)(i => if (i == k) 1.0 else 0.0)
    val r = Seq.fill(5)(gaussian(rnd, dim).map(_ / 3))
    Seq(7 -> r(0), 3 -> r(1), 11 -> r(1).clone(), 4 -> e(1), 5 -> e(2), 12 -> r(2),
      20 -> Array.fill(dim)(0.0), 21 -> r(3), 30 -> r(4))
  }

  /** Per-subspace codebooks with a duplicated row and a tie for e0's slices. */
  private def books(seed: Long): Seq[Seq[Array[Double]]] = {
    val rnd = new Random(seed + 2)
    (0 until m).map { _ =>
      val r = Seq.fill(4)(gaussian(rnd, dsub).map(_ / 2))
      Seq(r(0), r(1), r(1).clone(), Array(0.0, 1.0), Array(0.0, -1.0), r(2), r(3))
    }
  }

  /** Every value with doubles as their bits, so -0.0, NaN and nulls count. */
  private def bits(v: Any): Any = v match {
    case null              => null
    case d: Double         => java.lang.Double.doubleToLongBits(d)
    case r: Row            => r.toSeq.map(bits)
    case s: scala.collection.Seq[_] => s.map(bits)
    case o                 => o
  }

  private def assertSame(df: DataFrame, kernel: Column, reference: Column): Unit = {
    val got = df.select(col("id"), kernel.as("k"), reference.as("r")).orderBy("id").collect()
    assert(got.length == df.count())
    got.foreach { r =>
      assert(bits(r.get(1)) == bits(r.get(2)),
        s"id ${r.getInt(0)}: kernel ${r.get(1)} vs reference ${r.get(2)}")
    }
  }

  private val seeds = Seq(1L, 2L, 3L)

  test("l2_normalize equals the HOF normalization on f32 and f64 vectors") {
    seeds.foreach { seed =>
      val df = vectors(seed)
      assertSame(df, l2_normalize(col("vf")), HofReference.normalize("vf"))
      assertSame(df, l2_normalize(col("vd")), HofReference.normalize("vd"))
    }
  }

  test("nearest_cell equals the HOF argmin, ties to the lowest cell") {
    seeds.foreach { seed =>
      val df = vectors(seed).withColumn("nv", HofReference.normalize("vf"))
      val cs = cents(seed)
      Seq("vd", "nv").foreach { v =>
        assertSame(df, nearest_cell(col(v), VecTables.cells(cs)), HofReference.nearestCell(v, cs))
      }
      // assignCells' form: f32 centroids widened
      val f32 = cs.map { case (c, r) => (c, r.map(_.toFloat).toSeq) }
      assertSame(df,
        nearest_cell(col("nv"), VecTables.cells(f32.map { case (c, r) => (c, r.map(_.toDouble).toArray) })),
        HofReference.nearestCellF32("nv", f32))
    }
    // the planted tie: e0 is at squared distance 2 from cells 4 and 5
    val e0 = vectors(1L).filter(col("id") === 92)
      .select(nearest_cell(col("vd"), VecTables.cells(cents(1L).filter(c => c._1 == 4 || c._1 == 5))))
      .head().getInt(0)
    assert(e0 == 4)
  }

  test("pq_encode equals withSubCodes + codesArrayExpr") {
    seeds.foreach { seed =>
      val cbs = books(seed)
      val df = vectors(seed).withColumn("nv", HofReference.normalize("vf"))
      Seq("vd", "nv").foreach { v =>
        val ref = HofReference.pqEncode(df, v, cbs, dsub, "r")
        assertSame(ref, pq_encode(col(v), VecTables.books(cbs)), col("r"))
      }
    }
  }

  test("dot_table equals the HOF lookup tables and centroid scores") {
    seeds.foreach { seed =>
      val cbs = books(seed)
      val cs = cents(seed).sortBy(_._1).map(_._2)
      val table = VecTables.books(Seq(cs))
      val df = vectors(seed).withColumn("nv", HofReference.normalize("vf"))
      Seq("vd", "nv").foreach { v =>
        val bk = VecTables.books(cbs)
        assertSame(df,
          array((0 until m).map(s => dot_table(slice(col(v), s * dsub + 1, dsub), bk.table(s))): _*),
          HofReference.lookupTables(v, cbs, dsub))
        assertSame(df, dot_table(col(v), table), HofReference.dots(v, cs))
        assertSame(df, dot_table(col(v), table, cosine = true), HofReference.cosines(v, cs))
      }
    }
  }

  test("residual equals the HOF zip_with subtraction") {
    seeds.foreach { seed =>
      val cs = cents(seed).sortBy(_._1).map(_._2)
      val cells = VecTables.books(Seq(cs))
      val df = vectors(seed).withColumn("nv", HofReference.normalize("vf"))
        .withColumn("pos", (col("id") % cs.size).cast("int"))
      Seq("vd", "nv").foreach { v =>
        assertSame(df, residual(col(v), col("pos"), cells), HofReference.residual(v, "pos", cs))
      }
    }
  }

  test("adc equals the HOF lookup fold") {
    seeds.foreach { seed =>
      val cbs = books(seed)
      val bk = VecTables.books(cbs)
      val df = vectors(seed).withColumn("nv", HofReference.normalize("vf"))
        .withColumn("lt", HofReference.lookupTables("nv", cbs, dsub))
        .withColumn("codes", pq_encode(col("vd"), bk))
      assertSame(df, adc(col("lt"), col("codes")), HofReference.adc(m))
      // a null code nulls the sum, as `a + null` did
      val withNull = df.withColumn("codes", expr("transform(codes, (c, i) -> IF(i = 1, CAST(NULL AS INT), c))"))
      assertSame(withNull, adc(col("lt"), col("codes")), HofReference.adc(m))
    }
  }

  test("a codes table written through savePqCellPartitioned keeps its schema") {
    val cbs = books(5L)
    val base = vectors(5L).filter(col("id") < 80)
      .select(col("id").cast("long").as("vec_id"), HofReference.normalize("vf").as("__nv"))
    val refCodes = HofReference.pqEncode(base, "__nv", cbs, dsub, "codes")
      .select("vec_id", "codes")
    val newCodes = base.select(col("vec_id"), pq_encode(col("__nv"), VecTables.books(cbs)).as("codes"))
    assert(newCodes.schema == refCodes.schema)
    val assignments = base.select(col("vec_id"), (col("vec_id") % 3).cast("int").as("cell"))
    val root = java.nio.file.Files.createTempDirectory("vq_schema").toString
    val conf = spark.sparkContext.hadoopConfiguration
    def footers(dir: String): Set[String] = {
      val fs = new Path(dir).getFileSystem(conf)
      val files = fs.listFiles(new Path(dir), true)
      val out = Set.newBuilder[String]
      while (files.hasNext) {
        val p = files.next().getPath
        if (p.getName.endsWith(".parquet")) {
          val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
          try {
            val meta = r.getFooter.getFileMetaData
            out += meta.getSchema.toString + "\n" +
              meta.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata")
          } finally r.close()
        }
      }
      out.result()
    }
    def save(codes: DataFrame, dir: String): Unit = Similarity.savePqCellPartitioned(
      Similarity.PqIndex(codes.join(assignments, Seq("vec_id")), cbs, dsub), s"$root/$dir")
    save(refCodes, "ref")
    save(newCodes, "new")
    val (ref, got) = (footers(s"$root/ref/codes"), footers(s"$root/new/codes"))
    assert(ref.size == 1 && got == ref, s"\nreference: $ref\nkernel: $got")
    assert(ref.head.contains("\"containsNull\":true"))
    val read = (d: String) => spark.read.parquet(s"$root/$d/codes").select("vec_id", "codes", "cell")
      .orderBy("vec_id").collect().toSeq
    assert(read("new") == read("ref"))
  }

  test("tables compare by content: equal tables give one plan, memo key and cache entry") {
    val dir = java.nio.file.Files.createTempDirectory("vq_value").toString
    vectors(7L).filter(col("id") < 80).write.parquet(s"$dir/v")
    val cbs = books(7L)
    val cs = cents(7L)
    def plan(cbs: Seq[Seq[Array[Double]]], cs: Seq[(Int, Array[Double])]): DataFrame =
      spark.read.parquet(s"$dir/v").select(col("id"),
        pq_encode(col("vd"), VecTables.books(cbs)).as("codes"),
        nearest_cell(col("vd"), VecTables.cells(cs)).as("cell"),
        dot_table(col("vd"), VecTables.books(cbs.take(1)).table(0), cosine = true).as("cs"),
        residual(col("vd"), col("id") % 3, VecTables.cells(cs)).as("r"))
    // built independently: equal content, distinct arrays
    val a = plan(cbs, cs)
    val b = plan(cbs.map(_.map(_.clone())), cs.map { case (c, r) => (c, r.clone()) })
    val (pa, pb) = (a.queryExecution.analyzed, b.queryExecution.analyzed)
    assert(pa.canonicalized.toString == pb.canonicalized.toString)
    assert(pa.sameResult(pb))
    val memo = new Memo(4)
    val builds = new AtomicInteger
    memo.fit(a, "vq")(builds.incrementAndGet())
    memo.fit(b, "vq")(builds.incrementAndGet())
    assert(builds.get == 1, "equal tables must share one fit key")
    try {
      PlanCache.memo(a)
      assert(GraftSqlBridge.isCached(b), "equal tables must hit the cached frame")
    } finally a.unpersist()
    // one changed double is a different plan
    val moved = cbs.updated(2, cbs(2).updated(1, cbs(2)(1).map(_ + 1e-12)))
    val c = plan(moved, cs)
    assert(c.queryExecution.analyzed.canonicalized.toString != pa.canonicalized.toString)
    assert(!c.queryExecution.analyzed.sameResult(pa))
    memo.fit(c, "vq")(builds.incrementAndGet())
    assert(builds.get == 2)
    assert(VecTables.books(cbs) == VecTables.books(cbs.map(_.map(_.clone()))))
    assert(VecTables.books(cbs).hashCode == VecTables.books(cbs.map(_.map(_.clone()))).hashCode)
    assert(VecTables.books(moved) != VecTables.books(cbs))
  }

  test("driver-side probe cells and lookup tables are bit-identical to the in-plan kernels (ties to the lower cell, parquet-sourced queries)") {
    import org.apache.spark.ml.feature.Normalizer
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    import org.apache.spark.sql.catalyst.CatalystTypeConverters.createToCatalystConverter
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.catalyst.util.ArrayData
    import graft.GraftFunctions.cosine_similarity
    import graft.functions.{CosineSimilarity, VectorQuant}
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    // parquet-sourced queries, as q282 reads them: not a local relation
    val dir = java.nio.file.Files.createTempDirectory("graft-vq-queries").toString
    emb.filter($"vec_id" < 8)
      .select($"vec_id".as("query_id"), $"embedding".as("query_embedding"))
      .write.mode("overwrite").parquet(dir)
    val queries = spark.read.parquet(dir)
    assert(!queries.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    // f32 centroids: eight corpus vectors, plus cell 8 a copy of cell 3, so
    // every query ties cells 3 and 8
    val rows8 = emb.filter($"vec_id" >= 100 && $"vec_id" < 108).orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Float](0))
    val cents = (rows8 :+ rows8(3)).toSeq.zipWithIndex.map { case (c, i) => (i, c) }
    val nProbe = cents.size
    // the in-plan probe ranking the serving plan ran before: Normalizer,
    // f32 cast, cosine against the centroid table, GroupedTopK by
    // (cscore desc, cell asc)
    val nq = new Normalizer().setInputCol("vec").setOutputCol("nvec").setP(2.0)
      .transform(queries.withColumn("vec",
        array_to_vector($"query_embedding".cast("array<double>"))))
      .select($"query_id", vector_to_array($"nvec").cast("array<float>").as("nvec_arr"))
    val ref = graft.plans.GroupedTopK(
        nq.crossJoin(cents.toDF("cell", "centroid"))
          .withColumn("cscore", cosine_similarity($"nvec_arr", $"centroid")),
        Seq($"query_id"), Seq(desc("cscore"), asc("cell")), nProbe)
      .select("query_id", "cell", "rank", "cscore").collect().toSeq
      .groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.sortBy(_.getInt(2)).map(r => (r.getInt(1), r.getDouble(3)))
      }
    // the in-plan lookup tables over seeded codebooks (16 x 16 x 4)
    val rnd = new Random(7)
    val vt = VecTables.books(Seq.fill(16)(Seq.fill(16)(gaussian(rnd, 4))))
    val tables = (0 until vt.m).map(vt.table)
    val ltRef = queries.select($"query_id", array(tables.indices.map(s =>
        dot_table(slice(l2_normalize($"query_embedding"), s * 4 + 1, 4), tables(s))): _*))
      .collect().map(r => r.getLong(0) -> r.getSeq[scala.collection.Seq[Double]](1)).toMap
    val f32 = createToCatalystConverter(ArrayType(FloatType))
    val centData = cents.map(c => f32(c._2).asInstanceOf[ArrayData]).toArray
    def bits(x: Double) = java.lang.Double.doubleToRawLongBits(x)
    val qRows = queries.collect()
    assert(qRows.length == 8 && ref.size == 8)
    qRows.foreach { r =>
      val q = r.getLong(0)
      val nv = VectorQuant.l2normalize(f32(r.get(1)).asInstanceOf[ArrayData], isFloat = true)
      val cells = VectorQuant.probeCells(nv, cents.map(_._1).toArray, centData,
        centFloat = true, nProbe)
      assert(cells.toSeq == ref(q).map(_._1), s"query $q: probe order diverges")
      // the scores behind that order, bit for bit, and the planted tie
      val nvF = UnsafeArrayData.fromPrimitiveArray(
        Array.tabulate(nv.numElements())(i => nv.getDouble(i).toFloat))
      ref(q).foreach { case (c, score) =>
        assert(bits(CosineSimilarity.cosine(nvF, centData(c), true, true)) == bits(score))
      }
      val byCell = ref(q).toMap
      assert(bits(byCell(3)) == bits(byCell(8)) && cells.indexOf(3) < cells.indexOf(8),
        s"query $q: the tie must go to the lower cell")
      val lt = VectorQuant.lookupTables(nv, tables)
      assert(lt.numElements() == tables.size)
      tables.indices.foreach { s =>
        val got = lt.getArray(s)
        val want = ltRef(q)(s)
        assert(got.numElements() == want.size)
        want.indices.foreach(i => assert(bits(got.getDouble(i)) == bits(want(i)),
          s"query $q: lt[$s][$i] differs"))
      }
    }
    // the serving probe takes the parquet frame through its one bounded
    // collect and answers exactly as for the same rows held locally
    val (coarse, pq) = Similarity.loadIvfPqAt(spark,
      Similarity.ensurePersistedIvfPq(spark, emb.select("vec_id", "embedding"),
        TestSpark.sf0001))
    val local = spark.createDataFrame(java.util.Arrays.asList(qRows: _*), queries.schema)
    assert(local.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    def probe(qs: DataFrame) =
      Similarity.ivfPqProbe(coarse, pq, qs, 3).collect().map(_.toSeq).toSet
    val fromParquet = probe(queries)
    assert(fromParquet.size == 24 && fromParquet == probe(local))
  }
}
