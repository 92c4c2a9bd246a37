package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Session factory + shared helpers for the graft engine.
  *
  * Engine-wide defaults are chosen for the 100 TB design point (SURVEY.md §4,
  * §7): AQE on (runtime shuffle coalescing + skew-join splitting), UTC session
  * time zone (oracle parity), shuffle partitions sized to cores for local runs
  * (a real cluster overrides via spark-submit conf).
  */
object Graft {

  /** Scratch dir for fixture-writing queries (c02/e12 round-trips). The
    * oracle SQL interpolates this path at JVM start, so oracle and engine
    * always agree WITHIN a process; the env override exists because two
    * processes sharing one path race — `sbt test` (GRAFT_SCRATCH set in
    * build.sbt) must not clobber the fixtures a concurrent Verify at a
    * different scale factor just wrote.
    */
  val scratchDir: String = sys.env.getOrElse("GRAFT_SCRATCH", "/tmp/graft_fixtures")

  /** Build (or reuse) a session with engine defaults. */
  def session(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    prepare(spark)
  }

  /** Reference-parity entry point: `read_geoparquet(path)`. */
  def readGeoParquet(spark: SparkSession, path: String): DataFrame =
    geo.GeoParquet.read(spark, path)

  /** Reference-parity entry point: `gdf.to_geoparquet(path)`. */
  def writeGeoParquet(df: DataFrame, path: String,
      geometryColumn: String = "geometry"): Unit =
    geo.GeoParquet.write(df, path, Seq(geometryColumn))

  /** Install graft's SQL names and optimizer rules
    * ([[GraftExtensions.functions]], [[GraftExtensions.rules]]) on a session
    * we did not build (Verify/Bench receive a driver-configured session).
    * Idempotent.
    */
  def prepare(spark: SparkSession): SparkSession = synchronized {
    // st_srid/st_setsrid DELIBERATELY shadow Spark 4.1's GeometryType
    // builtins (graft's operate on WKB BinaryType — SURVEY §1.2 keeps WKB
    // as the core representation). SimpleFunctionRegistry WARNs on every
    // such replacement; that one expected pair would print in every
    // session log, so the registry logger is raised to ERROR for the
    // duration of registration only and restored afterwards — any LATER
    // replacement (a user clobbering a graft name) still warns.
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.config.Configurator
    val registryLogger = "org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry"
    val prior = LogManager.getLogger(registryLogger).getLevel
    Configurator.setLevel(registryLogger, Level.ERROR)
    try {
      val registry = spark.sessionState.functionRegistry
      GraftExtensions.functions.foreach { case (name, info, build) =>
        registry.registerFunction(name, info, build)
      }
    } finally Configurator.setLevel(registryLogger, prior)
    val installed = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      installed ++ GraftExtensions.rules.filterNot(installed.contains)
    spark
  }

  // --- Oracle-exact arithmetic helpers (SURVEY.md §5.2) -------------------
  //
  // Double sums are order-dependent; Spark (partial+final over 32 partitions)
  // and DuckDB (8 threads) would disagree in the last ulps. Fixed-point
  // money columns (2dp; o_totalprice 4dp) are summed as exact integer cents
  // instead: codegen'd long adds, order-independent, and ~6x faster than
  // decimal aggregation (measured: 5 decimal sums over 600k rows = 745 ms
  // vs 177 ms as longs). The final /100.0 is one double division written
  // identically in the DuckDB oracle — bit-identical results.
  //
  // Overflow bound: |cents| sums stay exact below 2^63 and convert to
  // double identically on both engines. Squared-cents power sums (c16) can
  // exceed that at bench scale — those keep the decimal path (dec2/dec4).

  // floor(x*100 + 0.5) rather than round(): Spark's Round on DoubleType
  // allocates a BigDecimal per row; floor is a codegen'd Math.floor. The
  // +0.5 shift rounds half-up (exact ties cannot occur for fixed-point
  // data), correct for negatives too. Spark's floor(double) is LongType.

  /** Exact integer cents of a 2-decimal double column. */
  def cents2(c: Column): Column = floor(c * 100 + lit(0.5))

  /** Exact integer ten-thousandths of a 4-decimal double column. */
  def cents4(c: Column): Column = floor(c * 10000 + lit(0.5))

  /** Exact 2-decimal reading of a money-like double column (decimal path,
    * for power sums whose cents form could overflow long).
    */
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Exact 4-decimal reading (decimal path). */
  def dec4(c: Column): Column = c.cast(DecimalType(18, 4))

  /** Order-independent exact sum of a 2-decimal double column → double. */
  def sumD2(c: Column): Column = sum(cents2(c)).cast("double") / lit(100.0)

  /** Order-independent exact sum of a 4-decimal double column → double. */
  def sumD4(c: Column): Column = sum(cents4(c)).cast("double") / lit(10000.0)

  /** Exact average of a 2-decimal double column: cents sum, two double
    * divisions — bit-identical across engines.
    */
  def avgD2(c: Column): Column = (sum(cents2(c)).cast("double") / lit(100.0)) / count(c)

  /** Exact 4-decimal sum via the DECIMAL path — for sums whose integer-
    * cents form could overflow long (the overflow rule above: a full-table
    * money sum funneled into a handful of groups, e.g. c38's per-year
    * pivot, crosses 2^63 at the 100 TB design point). Rounded 4dp to
    * absorb the engines' decimal→double conversion ulp differences (the
    * exact sum sits ON the 4dp grid, 5e-5 from any rounding boundary, so
    * the round is value-preserving).
    */
  def sumDec4(c: Column): Column = round(sum(dec4(c)).cast("double"), 4)

  def sqlSumDec4(x: String): String =
    s"round(CAST(sum(CAST(($x) AS DECIMAL(18,4))) AS DOUBLE), 4)"

  /** Oracle-side SQL for sumD2/sumD4/avgD2 (DuckDB dialect; hugeint sums
    * convert to the same doubles as Spark's longs).
    */
  def sqlSumD2(x: String): String =
    s"CAST(sum(CAST(floor(($x)*100 + 0.5) AS BIGINT)) AS DOUBLE) / CAST(100 AS DOUBLE)"
  def sqlSumD4(x: String): String =
    s"CAST(sum(CAST(floor(($x)*10000 + 0.5) AS BIGINT)) AS DOUBLE) / CAST(10000 AS DOUBLE)"
  def sqlAvgD2(x: String): String =
    s"(${sqlSumD2(x)}) / count($x)"

  /** Final ORDER BY for a provably small result (post-aggregation /
    * top-k — output bounded by group count, not input size).
    *
    * A plain `orderBy` plans a range-partitioning exchange whose bounds
    * come from an extra SAMPLING JOB over the child — the child plan runs
    * twice. For a bounded output the scale-correct plan is the one every
    * distributed engine uses for a final small ORDER BY: shuffle the few
    * rows to one partition and sort there (the "driver merge"). Upstream
    * stages keep full parallelism — only the already-small result
    * serializes. Saves one job + one stage per query (measured in
    * BENCH notes).
    */
  def sortSmall(df: DataFrame, cols: Column*): DataFrame =
    df.repartition(1).sortWithinPartitions(cols: _*)

  /** Final ORDER BY for a bounded result whose FINAL-STAGE INPUT is also
    * domain-bounded — the group count is fixed by the key domain
    * (returnflag × linestatus, market segments, nation × status), not by
    * data volume, so even `groups × map-tasks` partial rows stay tiny on a
    * 1000-executor cluster.
    *
    * `coalesce(1)` above the final aggregate reports SinglePartition with
    * NO exchange: the single task reads every shuffle partition of the
    * already-partially-aggregated input, finishes the aggregate and sorts
    * in place — one exchange and one stage fewer than [[sortSmall]]
    * (measured 357→150 ms on the sf0.1 pricing summary). NOT safe where
    * the serialized final stage grows with the data (time-bucketed group
    * keys — use sortSmall) or above heavy per-partition compute such as
    * window functions, which it would serialize onto one task.
    */
  def sortSmallFused(df: DataFrame, cols: Column*): DataFrame =
    df.coalesce(1).sortWithinPartitions(cols: _*)

  /** Final ORDER BY for a result whose row count is bounded by a TINY,
    * STRUCTURAL key domain (single-char flags, market segments, nation ×
    * status — not anything time- or data-derived). `orderBy + limit`
    * under the top-K threshold plans as TakeOrderedAndProject: the final
    * aggregation stage keeps ALL its parallelism and the driver merges a
    * few sorted rows per partition — no range-sampling job (plain orderBy)
    * and no single coalesced task ([[sortSmallFused]], measured +30-40 ms
    * of serialized final-stage latency per query at sf0.1).
    *
    * The 10 000-row cap must be PROVABLY unreachable by the key domain:
    * a result that hit the cap would be silently truncated. Never use for
    * groups that scale with data volume or time span (c32's hourly
    * buckets — those keep [[sortSmall]]'s full-result semantics).
    */
  def sortSmallTopK(df: DataFrame, cols: Column*): DataFrame =
    df.orderBy(cols: _*).limit(10000)

  // --- Sort-key packing for string min/max (SURVEY.md §4.3) ---------------
  //
  // Spark plans SortAggregate whenever an aggregate buffer holds a
  // StringType (UnsafeRow buffers mutate primitives/Decimal only): a single
  // max(string) forces the whole aggregate — and every other aggregate in
  // it — onto the sort-based path. Packing a short ASCII prefix into a
  // LongType buffer restores HashAggregate. Byte order == code-point order
  // for ASCII (single-byte UTF-8), so max over the packed long selects the
  // same value; unpack restores the exact prefix string.

  /** First `n` (≤8) chars of an ASCII string as a big-endian long whose
    * numeric order equals the string order (shorter strings NUL-pad, which
    * sorts below every ASCII char, matching prefix string comparison).
    * Precondition: values are ASCII — the first byte of an 8-byte pack must
    * stay < 0x80 for the long to remain non-negative. PropertySpec asserts
    * pack/unpack round-trips and order agreement on random ASCII inputs.
    */
  def packAsciiPrefix(c: Column, n: Int): Column = {
    require(n >= 1 && n <= 8, s"prefix width must be 1..8, got $n")
    if (n == 8)
      // native byte-loop expression: the column-algebra chain below costs
      // ~10 us/row across four allocating string functions (PackAscii8
      // scaladoc has the measurement); same NULL-on-non-ASCII-lead parity
      org.apache.spark.sql.GraftColumnBridge.column(
        functions.PackAscii8(org.apache.spark.sql.GraftColumnBridge.expression(c)))
    else
      conv(hex(encode(rpad(c, n, "\u0000"), "UTF-8")), 16, 10).cast("long")
  }

  /** Fused `packAsciiPrefix(upper(substring(c,1,8)), 8)`: one byte walk,
    * zero intermediate allocations (PackUpperAscii8 scaladoc has the
    * attribution). NULL — and therefore c27's fail-loudly `__na` flag —
    * fires on ANY non-ASCII byte in the 8-byte prefix, a strictly wider
    * enforcement of the same documented ASCII precondition.
    */
  def packUpperAsciiPrefix8(c: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      functions.PackUpperAscii8(org.apache.spark.sql.GraftColumnBridge.expression(c)))

  /** Inverse of [[packAsciiPrefix]]: the packed long back to the prefix
    * string (trailing NUL padding stripped). Runs post-aggregation over
    * group-count rows, so its per-row cost is irrelevant.
    */
  def unpackAsciiPrefix(c: Column, n: Int): Column = {
    require(n >= 1 && n <= 8, s"prefix width must be 1..8, got $n")
    rtrim(decode(unhex(lpad(hex(c), 2 * n, "0")), "UTF-8"), "\u0000")
  }

  /** Deterministic keep/drop predicate for hash sampling: true for ~`rate`
    * of the distinct key values, stable across runs, cluster layouts and
    * engines that share xxhash64. This is the PRODUCTION path for e16-style
    * subsetting — xxhash64 is one codegen'd 64-bit mix per row, roughly an
    * order of magnitude cheaper than the md5 hex form the DuckDB-paired
    * oracle uses (md5 allocates a digest + 32-char hex string per row; at
    * 100 TB the difference is cluster-hours). Same composability: a sample
    * of a sample is stable because the predicate depends only on the key
    * bytes. The hash maps to [0,1) via its unsigned upper 53 bits, so the
    * threshold comparison is exact in double space.
    */
  def hashSampleFilter(key: Column, rate: Double): Column = {
    require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0,1], got $rate")
    // logical right shift keeps the value in [0, 2^53) — exactly double-safe
    (shiftrightunsigned(xxhash64(key), 11).cast("double") / lit((1L << 53).toDouble)) < lit(rate)
  }
}
