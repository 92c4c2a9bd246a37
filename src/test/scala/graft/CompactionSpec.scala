package graft

import graft.operators.{Canonicalize, Compaction}
import org.scalatest.funsuite.AnyFunSuite

/** Compaction must change LAYOUT only: fewer files, identical content
  * (canonical layout-invariant hash), exact row count, and a fail-safe
  * swap that never leaves a half-written directory.
  */
class CompactionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def canonicalHash(path: String): String =
    Canonicalize.hash(spark.read.parquet(path))

  test("compacts many small files into few; content hash and count unchanged") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString + "/t"
    (1L to 5000L).map(i => (i, s"name_$i", i * 1.5)).toDF("id", "name", "v")
      .repartition(20).write.parquet(dir)
    val hashBefore = canonicalHash(dir)
    val filesBefore = new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(filesBefore === 20)

    val report = Compaction.compact(spark, dir, targetBytes = 64L * 1024 * 1024)
    assert(report.filesBefore === 20)
    assert(report.filesAfter === 1) // 5k rows ≪ 64 MB target
    assert(report.rows === 5000L)
    assert(canonicalHash(dir) === hashBefore, "compaction changed CONTENT")
    assert(spark.read.parquet(dir).count() === 5000L)
    // backup/tmp siblings cleaned up
    val parent = new java.io.File(dir).getParentFile.listFiles().map(_.getName)
    assert(!parent.exists(_.contains("__compact")), parent.mkString(","))
  }

  test("target sizing: a larger dataset with a small target splits into several files") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_compact2").toString + "/t"
    (1L to 50000L).map(i => (i, s"padpadpadpad_$i")).toDF("id", "name")
      .repartition(10).write.parquet(dir)
    val bytes = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val target = bytes / 3 + 1
    val report = Compaction.compact(spark, dir, targetBytes = target)
    // ceil(bytes / target) = 3 output files
    assert(report.filesAfter === 3, report.toString)
    assert(spark.read.parquet(dir).count() === 50000L)
  }
}
