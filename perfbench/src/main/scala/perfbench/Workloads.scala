package perfbench

import graft.{GeoFunctions => G, SparkEntry}
import graft.geo.GeoParquet
import java.io.File
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark op. `body` does the timed work and returns the check,
  * which the harness runs after the op's timing has stopped: None when
  * the op's output is right, Some(reason) when it is not.
  */
final case class Op(kind: String, label: String, body: Ctx => () => Option[String])

trait Workload {
  def name: String
  /** Percentile reported as `op_ms_tail` (fixed per workload; see README). */
  def tailPct: Double
  /** Writes the workload's base data under `dir`. Set-up runs it several
    * times into fresh directories and keeps the last one.
    */
  def stage(dir: String): Unit
  /** Untimed preparation after staging (expected results, query maps). */
  def prepare(dir: String): Unit = ()
  /** The op list of pass `pass` (negative passes are warm-up), in seeded order. */
  def ops(pass: Int): Seq[Op]
  /** Untimed: files the Python side needs for its oracle checks. */
  def finish(runDir: String): Unit = ()
  /** Traced runs: the per-layer metrics (name -> value) -> what is wrong
    * with the mechanisms the workload exists to show.
    */
  def traceChecks(m: Map[String, Double]): Seq[String] = Nil
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long, dataDir: String): Workload =
    name match {
      case "relational" => new QueryWorkload(spark, seed, dataDir, "relational",
        graft.Bench.headline.map(_._1), tailPct = 90.0)
      case "llm_dedup" => new QueryWorkload(spark, seed, dataDir, "llm_dedup",
        Seq("e18_dedup_clusters", "e64_leakfree_split", "e40_line_dedup",
          "e02_minhash_pairs", "e38_incremental_dedup"), tailPct = 80.0)
      case "geo_clustered" => new GeoWorkload(spark, seed, clustered = true)
      case "geo_random" => new GeoWorkload(spark, seed, clustered = false)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  /** Order-insensitive digest of a result: sorted row renderings. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach { s =>
      md.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)); md.update(10.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length
}

/** Declared engine queries (`SparkEntry.queries`) over the generated,
  * staged tables, each pass in a seeded order. Each op's result must equal the
  * warm-up result of the same query, which the Python side compares with
  * the query's independent oracle.
  */
final class QueryWorkload(spark: SparkSession, seed: Long, genDir: String,
    val name: String, queries: Seq[String], val tailPct: Double) extends Workload {

  private val fns = SparkEntry.queries
  private val refRows = scala.collection.mutable.Map[String, Array[Row]]()
  private val refSchema = scala.collection.mutable.Map[String, org.apache.spark.sql.types.StructType]()

  /** The tables arrive staged (run.py splits the generated tables into
    * the multi-file layout of graft.Bench.stage); nothing to write here.
    */
  def stage(dir: String): Unit = ()

  def ops(pass: Int): Seq[Op] = {
    val rng = new scala.util.Random(seed * 1000003L + pass)
    rng.shuffle(queries).map { q =>
      Op(q, q, ctx => {
        val df = fns(q)(spark, genDir)
        val rows = ctx.run(df)
        () => {
          if (pass < 0 && !refRows.contains(q)) {
            refRows(q) = rows; refSchema(q) = df.schema; None
          } else if (Workload.digest(rows) == Workload.digest(refRows(q))) None
          else Some(s"$q differs from its first result")
        }
      })
    }
  }

  /** Reference results as parquet plus the oracle SQL, for oracle.py. */
  override def finish(runDir: String): Unit = {
    val oracle = SparkEntry.oracleSqlFor(genDir)
    val sb = new StringBuilder("{")
    queries.zipWithIndex.foreach { case (q, i) =>
      val path = s"$runDir/ref/$q"
      spark.createDataFrame(java.util.Arrays.asList(refRows(q): _*), refSchema(q))
        .coalesce(1).write.mode("overwrite").parquet(path)
      if (i > 0) sb ++= ","
      sb ++= s"${Json.str(q)}:{${Json.str("path")}:${Json.str(path)}," +
        s"${Json.str("sql")}:${oracle.get(q).map(Json.str).getOrElse("null")}}"
    }
    sb ++= "}"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$runDir/refs.json"), sb.toString)
  }
}

/** Seeded points in [0, 1000)², written once as GeoParquet with the bbox
  * covering column, either Z-order clustered into files or in arrival
  * (id) order. Each pass writes one batch, runs range aggregates over two
  * box sizes and two spatial joins; every answer is checked against plain
  * numeric predicates over the generator's coordinates.
  */
final class GeoWorkload(spark: SparkSession, seed: Long, clustered: Boolean) extends Workload {
  import GeoWorkload._

  val name: String = if (clustered) "geo_clustered" else "geo_random"
  val tailPct = 90.0

  private var base = ""
  private var batchPath = ""
  private lazy val xs = Array.tabulate(Points)(i => coord(seed, i, 0))
  private lazy val ys = Array.tabulate(Points)(i => coord(seed, i, 1))
  // polygons for the repeated join: fixed for the run, so its plan is too
  private lazy val polys: Seq[(Int, Array[Double])] = {
    val r = new scala.util.Random(seed ^ 0x5eedL)
    (0 until Polygons).map { i =>
      val w = 20 + r.nextDouble() * 40; val h = 20 + r.nextDouble() * 40
      val x0 = r.nextDouble() * (Extent - w); val y0 = r.nextDouble() * (Extent - h)
      i -> Array(x0, y0, x0 + w, y0 + h)
    }
  }
  private lazy val queryPts: Seq[(Int, Double, Double)] = {
    val r = new scala.util.Random(seed ^ 0x9e37L)
    (0 until QueryPoints).map(i => (i, r.nextDouble() * Extent, r.nextDouble() * Extent))
  }
  private lazy val polyDf: DataFrame = spark.createDataFrame(polys.map { case (i, b) =>
      (i, G.stMakeBoxF(b(0), b(1), b(2), b(3))) }).toDF("pid", "poly")
  private lazy val queryDf: DataFrame = spark.createDataFrame(queryPts.map { case (i, x, y) =>
      (i, G.stPointF(x, y)) }).toDF("qid", "q")
  private lazy val polyExpected: Map[Int, Long] = polys.map { case (i, b) =>
      i -> countIn(b(0), b(1), b(2), b(3)) }.filter(_._2 > 0).toMap

  private def points(s: Long, n: Int, parts: Int): DataFrame = {
    val cx = udf((id: Long) => coord(s, id, 0))
    val cy = udf((id: Long) => coord(s, id, 1))
    spark.range(0, n, 1, parts)
      .select(col("id"), cx(col("id")).as("x"), cy(col("id")).as("y"))
      .select(col("id"), (col("id") % 1000).as("tag"),
        G.st_point(col("x"), col("y")).as("geometry"))
  }

  private def write(df: DataFrame, path: String, files: Int): Unit =
    if (clustered)
      GeoParquet.write(df, path, Seq("geometry"), addBboxColumn = true,
        spatialClusterFiles = Some(files))
    else GeoParquet.write(df.coalesce(files), path, Seq("geometry"), addBboxColumn = true)

  def stage(dir: String): Unit = {
    base = s"$dir/points"
    write(points(seed, Points, Files), base, Files)
  }

  override def prepare(dir: String): Unit = {
    batchPath = s"$dir/batch"
    xs; ys; polyExpected
  }

  private def countIn(x0: Double, y0: Double, x1: Double, y1: Double): Long = {
    var n = 0L; var i = 0
    while (i < Points) {
      val x = xs(i); val y = ys(i)
      if (x >= x0 && x <= x1 && y >= y0 && y <= y1) n += 1
      i += 1
    }
    n
  }

  private def counts(rows: Array[Row]): Map[Int, Long] =
    rows.map(r => r.getInt(0) -> r.getLong(1)).toMap

  def ops(pass: Int): Seq[Op] = {
    val rng = new scala.util.Random(seed * 7919L + pass)
    val write = Op("write", "write", ctx => {
      val s = seed * 31L + pass + 1000L
      ctx.span("geo.write") { this.write(points(s, BatchPoints, 4), batchPath, 4) }
      val meta = ctx.span("geo.meta") { GeoParquet.readMetadata(spark, batchPath) }
      () => {
        val bx = (0 until BatchPoints).map(i => coord(s, i, 0))
        val by = (0 until BatchPoints).map(i => coord(s, i, 1))
        val want = Some((bx.min, by.min, bx.max, by.max))
        val col0 = meta.flatMap(_.columns.get("geometry"))
        if (col0.flatMap(_.bbox) != want) Some(s"batch footer bbox ${col0.flatMap(_.bbox)} != $want")
        else if (!col0.flatMap(_.covering).contains("__bbox_geometry")) Some("batch footer lacks the covering")
        else None
      }
    })
    val ranges = (0 until RangeOps).map { i =>
      val side = if (i % 2 == 0) SmallBox else LargeBox
      val x0 = rng.nextDouble() * (Extent - side); val y0 = rng.nextDouble() * (Extent - side)
      val box = G.stMakeBoxF(x0, y0, x0 + side, y0 + side)
      val kind = if (side == SmallBox) "range_small" else "range_large"
      Op(kind, f"$kind($x0%.1f,$y0%.1f)", ctx => {
        val df = ctx.span("geo.read") { GeoParquet.read(spark, base) }
        val rows = ctx.run(df.filter(G.st_intersects(col("geometry"), lit(box)))
          .agg(count(lit(1))))
        () => {
          val want = countIn(x0, y0, x0 + side, y0 + side)
          if (rows.head.getLong(0) == want) None else Some(s"range count ${rows.head} != $want")
        }
      })
    }
    val joinRepeat = Op("join_repeat", "join_repeat", ctx => {
      val df = ctx.span("geo.read") { GeoParquet.read(spark, base) }
      val rows = ctx.run(df.join(polyDf, G.st_intersects(col("poly"), col("geometry")))
        .groupBy(col("pid")).agg(count(lit(1)).as("n")))
      () => if (counts(rows) == polyExpected) None else Some("polygon join counts differ")
    })
    val radius = 6.0 + rng.nextDouble() * 0.01
    val joinFresh = Op("join_fresh", f"join_fresh(r=$radius%.3f)", ctx => {
      val df = ctx.span("geo.read") { GeoParquet.read(spark, base) }
      val rows = ctx.run(df.join(queryDf, G.st_dwithin(col("geometry"), col("q"), lit(radius)))
        .groupBy(col("qid")).agg(count(lit(1)).as("n")))
      () => {
        val want = queryPts.map { case (i, qx, qy) =>
          var n = 0L; var k = 0
          while (k < Points) {
            val dx = xs(k) - qx; val dy = ys(k) - qy
            if (math.sqrt(dx * dx + dy * dy) <= radius) n += 1
            k += 1
          }
          i -> n
        }.filter(_._2 > 0).toMap
        if (counts(rows) == want) None else Some(f"dwithin join counts differ at r=$radius%.3f")
      }
    })
    rng.shuffle(write +: joinRepeat +: joinFresh +: ranges)
  }

  /** Covering pruning skips most rows only when clustered; both joins
    * avoid nested loops; the repeated join's plan is memoized, the fresh
    * one's is not.
    */
  override def traceChecks(m: Map[String, Double]): Seq[String] = Seq(
    (if (clustered) m("scan.read_frac") < 0.5 else m("scan.read_frac") > 0.9) ->
      s"scan.read_frac ${m("scan.read_frac")} is not ${if (clustered) "< 0.5" else "> 0.9"}",
    (m("plans.bnl_joins") == 0) -> s"plans.bnl_joins ${m("plans.bnl_joins")} != 0",
    (m("plans.planning_jobs.join_repeat") == 0) ->
      s"plans.planning_jobs.join_repeat ${m("plans.planning_jobs.join_repeat")} != 0",
    (m("plans.planning_jobs.join_fresh") > 0) -> "plans.planning_jobs.join_fresh is 0"
  ).collect { case (false, why) => why }

  /** Bytes on disk per row of the last written batch. */
  def batchBytesPerRow: Double = Workload.dirBytes(new File(batchPath)).toDouble / BatchPoints
}

object GeoWorkload {
  val Extent = 1000.0
  val Points = 100000
  val Files = 32
  val BatchPoints = 10000
  val RangeOps = 4
  val SmallBox = 10.0
  val LargeBox = 60.0
  val Polygons = 40
  val QueryPoints = 100

  /** Uniform coordinate in [0, Extent) from (seed, id, dim): splitmix64. */
  def coord(seed: Long, id: Long, dim: Int): Double = {
    var z = seed * 0x9e3779b97f4a7c15L + id * 2 + dim + 0x632be59bd9b4e019L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z = z ^ (z >>> 31)
    (z >>> 11).toDouble / (1L << 53).toDouble * Extent
  }
}
