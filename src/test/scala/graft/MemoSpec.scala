package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Memo

class MemoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Run `f` on `n` threads at once; their results in thread order. */
  private def onThreads[T](n: Int)(f: Int => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(n)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      Await.result(Future.sequence((0 until n).map(i => Future(f(i)))), 60.seconds)
    } finally pool.shutdownNow()
  }

  test("past the cap the oldest entry is evicted first") {
    val memo = new Memo(cap = 2)
    val builds = new AtomicInteger
    def get(key: String): String = memo(spark, key) { builds.incrementAndGet(); key }
    get("t|a"); get("t|b")
    get("t|a") // a hit does not reorder: a stays the oldest
    assert(builds.get == 2)
    get("t|c") // evicts a
    assert(memo.size == 2)
    get("t|b"); get("t|c")
    assert(builds.get == 3, "b and c are still cached")
    get("t|a")
    assert(builds.get == 4, "a was evicted and rebuilds")
  }

  test("different keys build in parallel") {
    val memo = new Memo(cap = 4)
    val inside = new CountDownLatch(2)
    // each build waits until BOTH builds are running: a memo that builds
    // under one lock never lets the second one in, and both time out
    val met = onThreads(2) { i =>
      memo(spark, s"t|$i") { inside.countDown(); inside.await(10, TimeUnit.SECONDS) }
    }
    assert(met == Seq(true, true))
  }

  test("one key requested from many threads builds exactly once") {
    val memo = new Memo(cap = 4)
    val builds = new AtomicInteger
    val start = new CountDownLatch(8)
    val got = onThreads(8) { _ =>
      start.countDown(); start.await()
      memo(spark, "t|same") { builds.incrementAndGet(); Thread.sleep(200); new Object }
    }
    assert(builds.get == 1)
    assert(got.forall(_ eq got.head), "every caller gets the one built value")
  }

  test("a build that throws caches nothing and rethrows") {
    val memo = new Memo(cap = 4)
    val builds = new AtomicInteger
    def get(fail: Boolean): Int = memo(spark, "t|x") {
      builds.incrementAndGet()
      if (fail) throw new IllegalStateException("boom") else 7
    }
    val e = intercept[IllegalStateException](get(fail = true))
    assert(e.getMessage == "boom")
    assert(memo.size == 0)
    assert(get(fail = false) == 7)
    assert(get(fail = false) == 7)
    assert(builds.get == 2, "the failed build was not cached; the next one was")
  }

  test("entries of a stopped session are swept") {
    // the suite's shared session must stay up, so the stop happens in a
    // child JVM (MemoSweepMain) on the same classpath and JVM flags
    val flags = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray(Array.empty[String])
      .filterNot(f => f.startsWith("-Xmx") || f.startsWith("-agentlib"))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java") ++ flags ++
      Seq("-Xmx1g", "-cp", sys.props("java.class.path"), "graft.MemoSweepMain")
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
    val proc = pb.start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString
    assert(proc.waitFor(120, TimeUnit.SECONDS) && proc.exitValue == 0, out)
    assert(out.contains("entries after restart: 1"), out)
  }

  test("fit: an in-memory frame always builds, a file-backed one builds once") {
    val memo = new Memo(cap = 4)
    val builds = new AtomicInteger
    val local = Seq((1L, 2L)).toDF("a", "b")
    memo.fit(local, "t|1")(builds.incrementAndGet())
    memo.fit(local, "t|1")(builds.incrementAndGet())
    assert(builds.get == 2)
    assert(memo.size == 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_memo_fit").toString
    try {
      local.write.mode("overwrite").parquet(dir)
      memo.fit(spark.read.parquet(dir), "t|1")(builds.incrementAndGet())
      memo.fit(spark.read.parquet(dir), "t|1")(builds.incrementAndGet())
      assert(builds.get == 3)
      memo.fit(spark.read.parquet(dir), "t|2")(builds.incrementAndGet())
      assert(builds.get == 4, "params are part of the key")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }
}

/** Child-JVM half of MemoSpec's sweep case: cache an entry under one
  * session, stop it, and report the memo's size after one call under a
  * fresh session. */
object MemoSweepMain {
  def main(args: Array[String]): Unit = {
    def session() = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    val memo = new Memo(cap = 4)
    val first = session()
    memo(first, "t|a")(1)
    memo(first, "t|b")(2)
    first.stop()
    val second = session()
    memo(second, "t|c")(3)
    println(s"entries after restart: ${memo.size}")
    second.stop()
  }
}
