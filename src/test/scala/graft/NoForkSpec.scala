package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.GenDir
import graft.streaming.Streams

/** The engine's local write paths start no child process. Hadoop's stock
  * local filesystem forks `chmod`/`ls`/`readlink` per file when
  * `libhadoop.so` is absent; [[graft.io.LocalFs]] replaces those forks, and
  * this spec watches for any that come back. The witness is `cminflt` in
  * `/proc/self/stat`: the minor page faults of reaped children, which
  * every fork-and-exec adds to. */
class NoForkSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val stat = new java.io.File("/proc/self/stat")

  /** Field 11 of /proc/self/stat; the fields after the `(comm)` one start
    * at field 3. */
  private def childFaults(): Long = {
    val s = new String(Files.readAllBytes(stat.toPath), "US-ASCII")
    s.substring(s.lastIndexOf(')') + 2).split(' ')(11 - 3).toLong
  }

  /** Child-process faults reaped while `op` ran. */
  private def childFaultsDuring(op: => Unit): Long = {
    val before = childFaults()
    op
    childFaults() - before
  }

  test("parquet write, GenDir commit and a streamed lex wave fork nothing") {
    assume(stat.canRead, "needs /proc/self/stat")
    val tmp = Files.createTempDirectory("graft-nofork").toString
    val rows = (0 until 64).map(i => (i.toLong, i % 16, s"row $i")).toDF("id", "p", "v")
    // Spark's first heartbeat forks `getconf PAGESIZE` once per JVM (in
    // ProcfsMetricsGetter's initializer, which needs the live SparkEnv);
    // run it now so it cannot land in a measured window
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")

    val write = childFaultsDuring {
      rows.write.partitionBy("p").parquet(s"$tmp/parts")
    }

    val root = s"$tmp/store"
    GenDir.rewrite(spark, root)(dir => rows.coalesce(1).write.parquet(dir))
    val commit = childFaultsDuring {
      GenDir.rewrite(spark, root)(dir => rows.coalesce(1).write.parquet(dir))
    }
    assert(GenDir.currentGen(spark, root).contains(2))

    val landing = s"$tmp/landing"
    Seq((1L, "spark window agg join"), (2L, "customer order batch join"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(landing)
    val docs = spark.readStream.schema(Streams.documentsSchema).parquet(landing)
    val wave = childFaultsDuring {
      val q = Streams.streamingLexIndex(docs, s"$tmp/lex", s"$tmp/ckpt")
      assert(q.awaitTermination(120000))
    }
    assert(Streams.lexDocLensAt(spark, s"$tmp/lex").count() == 2)

    val faults = Seq("partitionBy parquet write" -> write,
      "GenDir.rewrite commit" -> commit, "streamed lex wave" -> wave)
    assert(faults.forall(_._2 == 0),
      s"child-process page faults reaped during: ${faults.mkString(", ")}")
  }
}
