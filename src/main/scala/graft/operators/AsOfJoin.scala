package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join (SURVEY.md §2 C13): for every left row, attach the columns of
  * the latest right row whose time key is <= the left row's time key, within
  * the same partition key(s).
  *
  * Spark-first design: Spark has no native as-of join, and the naive
  * formulation (theta-join on `r.ts <= l.ts` + arg_max) is a broadcast-
  * nested-loop — O(n*m) and unusable at 100 TB. This implementation is the
  * classic union-tag-window plan:
  *
  *   union(left tagged, right tagged)
  *     -> window partitionBy(keys) orderBy(ts, tag) last(ignoreNulls)
  *     -> filter(tag == left)
  *
  * One shuffle on the partition keys (same cost as any equi-join on them),
  * sort within partitions, no cartesian blow-up; AQE handles skewed keys.
  * Right rows at exactly ts sort before left rows at ts (tag ordering), so
  * the match is inclusive (<=), matching DuckDB's ASOF JOIN semantics.
  */
object AsOfJoin {

  /** @param left       rows to enrich
    * @param right      rows providing the as-of values
    * @param partitionCols equal-key columns present in BOTH inputs
    * @param leftTs     event-time column name on `left`
    * @param rightTs    event-time column name on `right`
    * @param rightVals  columns of `right` to carry to the output. The
    *                   matched row's values are taken AS A UNIT (one struct
    *                   fill): a matched row whose value column is null
    *                   yields null — it does NOT fall through to an older
    *                   right row, matching DuckDB/pandas as-of semantics.
    * @param matchMarker name of an appended boolean column marking whether
    *                   any right row matched (distinguishes "matched row
    *                   with null value" from "no match"); None to omit
    */
  def asOf(
      left: DataFrame,
      right: DataFrame,
      partitionCols: Seq[String],
      leftTs: String,
      rightTs: String,
      rightVals: Seq[String],
      matchMarker: Option[String] = Some("is_match")): DataFrame = {
    val leftCols = left.columns.toSeq
    matchMarker.foreach { m =>
      require(!leftCols.contains(m) && !rightVals.contains(m),
        s"matchMarker '$m' collides with an input column — rename it or pass None")
    }
    val tag = "__asof_tag"
    val ts = "__asof_ts"
    val rs = "__asof_rvals"

    // Align both sides on (partitionCols, ts, tag, leftCols..., rs).
    // Right values travel as ONE nullable struct: the window fill skips
    // left rows (null struct) but a matched right row's struct is non-null
    // even when its fields are null, so fields never leak across rows.
    val l = left
      .withColumn(tag, lit(1))
      .withColumn(ts, col(leftTs))
      .select((partitionCols ++ Seq(ts, tag) ++ leftCols.filterNot(partitionCols.contains))
        .map(col) :+ lit(null).cast(
          org.apache.spark.sql.types.StructType(rightVals.map(c => right.schema(c)))).as(rs): _*)
    val r = right
      .withColumn(tag, lit(0))
      .withColumn(ts, col(rightTs))
      .select((partitionCols ++ Seq(ts, tag)).map(col) ++
        leftCols.filterNot(partitionCols.contains).map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
        struct(rightVals.map(col): _*).as(rs): _*)

    val w = Window
      .partitionBy(partitionCols.map(col): _*)
      .orderBy(col(ts).asc, col(tag).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val filled = l.unionByName(r).select(
      (partitionCols ++ Seq(ts, tag) ++ leftCols.filterNot(partitionCols.contains)).map(col) :+
        last(col(rs), ignoreNulls = true).over(w).as(rs): _*)

    val matched = filled.filter(col(tag) === 1)
    val withVals = rightVals.foldLeft(matched)((df, c) => df.withColumn(c, col(rs).getField(c)))
    val out = matchMarker.fold(withVals)(m => withVals.withColumn(m, col(rs).isNotNull))
    out.drop(tag, ts, rs)
  }
}
