package graft

import org.scalatest.funsuite.AnyFunSuite

/** The fixture-oracle mechanism itself (LlmPipeline.fixtureCheck) is what
  * round 5's owned-hash correctness rests on, so it gets its own negative
  * paths: agreement must reproduce the fixture exactly with (1,1) flags,
  * and EVERY kind of disagreement — missing row, extra row, changed value
  * — must surface as a 0-flag row that breaks the driver's rows+hash
  * compare. A checker that can't fail is not a check.
  */
class FixtureCheckSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val root = "/tmp/graft_test/fixture_check"
  private val dir = s"$root/sfX" // fixture path derives from the dir basename

  private def writeFixture(rows: Seq[(Long, String)]): Unit = {
    rows.toDF("id", "v").coalesce(1).write.mode("overwrite")
      .parquet(s"$root/sfX/probe.parquet")
  }

  private def check(engine: Seq[(Long, String)]): Seq[(Long, String, Int, Int)] =
    queries.LlmPipeline.fixtureCheck(spark, dir, "probe",
        engine.toDF("id", "v"), Seq("id"), root = root)
      .collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3)))

  test("agreement reproduces the fixture with (1,1) flags") {
    writeFixture(Seq(1L -> "a", 2L -> "b"))
    assert(check(Seq(1L -> "a", 2L -> "b")) ===
      Seq((1L, "a", 1, 1), (2L, "b", 1, 1)))
  }

  test("a missing engine row surfaces as an in_engine=0 row") {
    writeFixture(Seq(1L -> "a", 2L -> "b"))
    val out = check(Seq(1L -> "a"))
    assert(out.contains((2L, "b", 0, 1)))
    assert(out.size === 2) // row count unchanged but the hash breaks
  }

  test("an extra engine row surfaces as an in_fixture=0 row (extra rows can't hide)") {
    writeFixture(Seq(1L -> "a"))
    val out = check(Seq(1L -> "a", 9L -> "z"))
    assert(out === Seq((1L, "a", 1, 1), (9L, "z", 1, 0)))
  }

  test("a changed value splits into two 0-flag rows") {
    writeFixture(Seq(1L -> "a"))
    val out = check(Seq(1L -> "WRONG"))
    assert(out.toSet === Set((1L, "WRONG", 1, 0), (1L, "a", 0, 1)))
  }

  test("NULL cells compare null-safe, not vacuously unequal") {
    writeFixture(Seq(1L -> null))
    assert(check(Seq(1L -> null)) === Seq((1L, null, 1, 1)))
  }

  test("oracle SQL fixture paths track graft.sf.name at ACCESS time, not object init") {
    // Regression for the r5 known-gap: fixtureSf was a val frozen at
    // LlmPipeline init, so a JVM touching the query maps before Verify set
    // the property (or verifying two SF dirs in one process) pinned every
    // fixture oracle to the wrong directory. Now the maps bake a
    // placeholder and SparkEntry.oracleSql substitutes per access.
    val touched = queries.LlmPipeline.queries // force object + map init first
    assert(touched.nonEmpty)
    val prev = sys.props.get("graft.sf.name")
    try {
      System.setProperty("graft.sf.name", "sfA")
      val a = SparkEntry.oracleSql.apply("e_fingerprint")
      System.setProperty("graft.sf.name", "sfB")
      val b = SparkEntry.oracleSql.apply("e_fingerprint")
      assert(a.contains("fixtures/sfA/e_fingerprint.parquet"))
      assert(b.contains("fixtures/sfB/e_fingerprint.parquet"))
      assert(!b.contains(queries.LlmPipeline.SfToken)) // placeholder never leaks
    } finally {
      prev match {
        case Some(v) => System.setProperty("graft.sf.name", v)
        case None => System.clearProperty("graft.sf.name")
      }
    }
  }

  test("oracleSqlFor(dataDir) derives the fixture SF from the data directory, property unset") {
    // VERDICT r6 item 5 (the external-harness residual): a standalone
    // consumer that never sets graft.sf.name runs queries against some
    // sf dir but the zero-arg oracleSql hands back sf0.01 fixture paths.
    // oracleSqlFor closes it: SF comes from the SAME directory argument
    // the queries ran with, no process state involved.
    val prev = sys.props.get("graft.sf.name")
    try {
      System.clearProperty("graft.sf.name") // the no-property harness
      val viaDir = SparkEntry.oracleSqlFor("/root/testdata/sf0.1")("e_fingerprint")
      assert(viaDir.contains("fixtures/sf0.1/e_fingerprint.parquet"))
      assert(!viaDir.contains(queries.LlmPipeline.SfToken))
      // the zero-arg contract default stays sf0.01 — the documented
      // driver-facing behavior oracleSqlFor exists to route around
      assert(SparkEntry.oracleSql.apply("e_fingerprint")
        .contains("fixtures/sf0.01/e_fingerprint.parquet"))
      // non-fixture SQL is identical through both entry points
      assert(SparkEntry.oracleSqlFor("/root/testdata/sf0.1").apply("c14_pricing_summary")
        === SparkEntry.oracleSql.apply("c14_pricing_summary"))
    } finally {
      prev match {
        case Some(v) => System.setProperty("graft.sf.name", v)
        case None => System.clearProperty("graft.sf.name")
      }
    }
  }

  test("missing fixture file yields NULL in_fixture flags — red, never silently green") {
    val out = queries.LlmPipeline.fixtureCheck(spark, s"$root/nosuch", "probe",
      Seq(1L -> "a").toDF("id", "v"), Seq("id"), root = root)
      .collect().toSeq
    assert(out.size === 1)
    assert(out.head.getInt(2) === 1)
    assert(out.head.isNullAt(3))
  }
}
