package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation by salting (SURVEY.md §4.3 / 100 TB design notes).
  *
  * AQE's skew-join splitting handles most skew at runtime; salting is the
  * explicit, plan-level tool for pathological hot keys (a handful of keys
  * owning most rows — the classic power-law shape of web/LLM corpora).
  * Both helpers are deterministic: the salt derives from row content
  * (xxhash64), never from rand().
  */
object Salted {

  /** Two-phase salted aggregation: partials per (keys, salt) spread a hot
    * key over `saltBuckets` reducers, then merge per keys. Caller provides
    * algebraic partial/merge agg pairs (sum/sum, count/sum, min/min, ...).
    */
  def saltedSumCount(
      df: DataFrame,
      keys: Seq[String],
      valueCol: String,
      saltBuckets: Int = 16): DataFrame = {
    val salt = pmod(xxhash64(df.columns.map(col): _*), lit(saltBuckets))
    df.withColumn("__salt", salt)
      .groupBy((keys :+ "__salt").map(col): _*)
      .agg(sum(col(valueCol)).as("__psum"), count(lit(1)).as("__pcnt"))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__psum")).as(s"sum_$valueCol"), sum(col("__pcnt")).as("cnt"))
  }

  /** Salted equi-join for a skewed LEFT side: left rows get a deterministic
    * salt in [0, saltBuckets); the (small) right side replicates once per
    * salt value; the join runs on (key, salt) so one hot key spreads over
    * `saltBuckets` tasks instead of one.
    */
  def saltedJoin(
      skewedLeft: DataFrame,
      right: DataFrame,
      key: String,
      saltBuckets: Int = 16): DataFrame = {
    val l = skewedLeft.withColumn("__salt",
      pmod(xxhash64(skewedLeft.columns.map(col): _*), lit(saltBuckets)))
    val r = right
      .withColumn("__salt", explode(sequence(lit(0L), lit(saltBuckets - 1L))))
    l.join(r, Seq(key, "__salt")).drop("__salt")
  }
}
