package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.GenDir

/** Generation-pointer protocol edges that the store-level race specs
  * (SimilaritySpec retrain race, StreamingSpec takedown race) don't reach:
  * pruning under CRASHED builds. A `beginGen` that dies mid-build leaves an
  * uncommitted `gen=N+1` dir above the serving generation; the next
  * successful build skips past it (N+2). A newest-by-number prune would
  * then keep the corpse and delete the GENUINE predecessor — the exact
  * generation the keep=2 contract holds for in-flight readers. The
  * `_GEN_PREV` stamp written at commit time is what lets pruneGens protect
  * the right pair. */
class GenDirSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def writeGen(dir: String, tag: Int): Unit =
    Seq((tag, s"v$tag")).toDF("id", "v").coalesce(1)
      .write.mode("overwrite").parquet(dir)

  private def dirExists(p: String): Boolean = {
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
  }

  test("pruneGens under a crashed build keeps the genuine predecessor, drops the corpse") {
    val root = Files.createTempDirectory("graft-gendir").toString + "/store"
    // generation 1: normal build + commit
    val (n1, d1) = GenDir.beginGen(spark, root)
    assert(n1 == 1)
    writeGen(d1, 1)
    GenDir.commitGen(spark, root, n1)
    assert(GenDir.resolve(spark, root) == s"$root/gen=1")
    // generation 2: a build that CRASHES after materializing its dir —
    // begun, written, never committed
    val (n2, d2) = GenDir.beginGen(spark, root)
    assert(n2 == 2)
    writeGen(d2, 2)
    // generation 3: the next successful rewrite numbers PAST the corpse
    val (n3, d3) = GenDir.beginGen(spark, root)
    assert(n3 == 3, "beginGen must skip past the crashed dir")
    writeGen(d3, 3)
    GenDir.commitGen(spark, root, n3)
    val dropped = GenDir.pruneGens(spark, root)
    // the keep=2 contract: serving gen 3 plus TRUE predecessor 1 survive;
    // the never-committed gen 2 is the one dropped (by-number pruning
    // would have done the opposite — kept 2, deleted 1 under any
    // in-flight reader that resolved before the flip)
    assert(dropped == Seq(2))
    assert(dirExists(s"$root/gen=1") && dirExists(s"$root/gen=3"))
    assert(!dirExists(s"$root/gen=2"))
    assert(GenDir.resolve(spark, root) == s"$root/gen=3")
    assert(spark.read.parquet(GenDir.resolve(spark, root))
      .select("v").as[String].head() == "v3")
    // next normal rewrite retires gen 1 (now two rewrites old — the
    // documented keep=2 reader window) and keeps {4, 3}
    val (n4, d4) = GenDir.beginGen(spark, root)
    assert(n4 == 4)
    writeGen(d4, 4)
    GenDir.commitGen(spark, root, n4)
    assert(GenDir.pruneGens(spark, root) == Seq(1))
    assert(dirExists(s"$root/gen=3") && dirExists(s"$root/gen=4"))
    // a corpse ABOVE the serving generation is also cleaned on the next
    // commit instead of surviving as the by-number "predecessor"
    val (n5, d5) = GenDir.beginGen(spark, root)
    assert(n5 == 5)
    writeGen(d5, 5) // crashes: no commit
    val (n6, d6) = GenDir.beginGen(spark, root)
    assert(n6 == 6)
    writeGen(d6, 6)
    GenDir.commitGen(spark, root, n6)
    assert(GenDir.pruneGens(spark, root) == Seq(3, 5))
    assert(dirExists(s"$root/gen=4") && dirExists(s"$root/gen=6"))
    assert(GenDir.resolve(spark, root) == s"$root/gen=6")
  }

  test("rewrite: a throwing write leaves the serving generation untouched and no partial dir") {
    val root = Files.createTempDirectory("graft-gendir").toString + "/store"
    val (n1, d1) = GenDir.rewrite(spark, root)(writeGen(_, 1))
    assert(n1 == 1 && GenDir.resolve(spark, root) == d1)
    val boom = intercept[IllegalStateException] {
      GenDir.rewrite(spark, root) { d =>
        writeGen(d, 2)
        throw new IllegalStateException("build failed")
      }
    }
    assert(boom.getMessage == "build failed")
    assert(GenDir.currentGen(spark, root).contains(1))
    assert(GenDir.resolve(spark, root) == s"$root/gen=1")
    assert(!dirExists(s"$root/gen=2"), "the failed build's dir must be deleted")
    assert(spark.read.parquet(GenDir.resolve(spark, root))
      .select("v").as[String].head() == "v1")
    // the next rewrite commits normally, and gen 1 stays as its predecessor
    val (n2, d2) = GenDir.rewrite(spark, root)(writeGen(_, 2))
    assert(n2 == 2 && GenDir.resolve(spark, root) == d2)
    assert(spark.read.parquet(d2).select("v").as[String].head() == "v2")
    assert(GenDir.pruneGens(spark, root).isEmpty)
    assert(dirExists(s"$root/gen=1"))
  }
}
