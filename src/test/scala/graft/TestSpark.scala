package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (t1 smoke tier uses
  * sf0.001 — SURVEY.md §5.3).
  */
object TestSpark {
  lazy val spark: SparkSession = Graft.session("local[4]", 4)
  val sfDir = "/root/testdata/sf0.001"

  /** Run `f` on a fresh session over the shared SparkContext, built with
    * the extensions and without prepare(). `spark.sql.extensions` is a
    * STATIC conf read from the SparkContext at session construction —
    * un-settable on the shared test context — so the specs drive the
    * identical code path through builder.withExtensions; the conf-string
    * class loading around it is stock Spark.
    */
  def withExtensionsOnly(f: SparkSession => Unit): Unit = {
    val prior = spark // ensure the shared context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = SparkSession.builder()
        .master(prior.sparkContext.master)
        .withExtensions(new GraftExtensions())
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
      assert(s ne prior, "expected a fresh SparkSession instance")
      f(s)
    } finally {
      SparkSession.setDefaultSession(prior)
      SparkSession.setActiveSession(prior)
    }
  }
}
