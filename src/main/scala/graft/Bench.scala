package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs the headline query set — the
  * engine-side equivalents of BASELINE.md B1–B10 — on
  * SPARK_GRAFT_SF_DIR, printing one JSON line.
  *
  * Protocol per SURVEY.md §6: warm session, 1 warm-up execution then min of
  * 3 timed runs per query, result fully materialized (collect), session
  * startup excluded. Sub-10 ms baseline queries are planning-floor-bound in
  * Spark; reported as measured, not gamed.
  */
object Bench {

  /** name -> BASELINE.md comparator id */
  val headline: Seq[(String, String)] = Seq(
    "c14_pricing_summary" -> "B1",
    "c07_join_agg" -> "B2",
    "c21_rank_window" -> "B3",
    "c20_rollup" -> "B4",
    "c25_topk" -> "B5",
    "c32_json_events" -> "B6",
    "c27_strings" -> "B7",
    "c09_semi_anti" -> "B8",
    "e03_cosine_topk" -> "B9",
    "e01_exact_dedup" -> "B10")

  /** BASELINE.md sf0.1 reference seconds (duckdb 1.0.0, 8 threads) —
    * denominators for the floor-adjusted ratios emitted in the JSON.
    * Valid ONLY at sf0.1 (the per-round driver SF); at any other SF the
    * ratio block is omitted rather than reported against the wrong scale.
    */
  private[graft] val baselineSec: Map[String, Double] = Map(
    "c14_pricing_summary" -> 0.0589,
    "c07_join_agg" -> 0.1664,
    "c21_rank_window" -> 0.0092,
    "c20_rollup" -> 0.0278,
    "c25_topk" -> 0.0093,
    "c32_json_events" -> 0.0355,
    "c27_strings" -> 0.0079,
    "c09_semi_anti" -> 0.0504,
    "e03_cosine_topk" -> 0.0128,
    "e01_exact_dedup" -> 0.0054)

  /** BASELINE.md sf1 column (duckdb 1.0.0, 8 threads, baseline_sf.py —
    * the BASELINE protocol verbatim over gen_sf.py data, measured in the
    * r8 idle-window settlement). Denominators for the STANDING sf1 gate
    * (VERDICT r8 item 8): Spark re-measures its side every round; the
    * DuckDB side is a committed constant exactly like the sf0.1 column.
    */
  private[graft] val baselineSf1Sec: Map[String, Double] = Map(
    "c14_pricing_summary" -> 0.1249,
    "c07_join_agg" -> 0.5290,
    "c21_rank_window" -> 0.0462,
    "c20_rollup" -> 0.1811,
    "c25_topk" -> 0.0460,
    "c32_json_events" -> 0.2569,
    "c27_strings" -> 0.0463,
    "c09_semi_anti" -> 0.1442,
    "e03_cosine_topk" -> 0.0602,
    "e01_exact_dedup" -> 0.0357)

  /** The sf1/sf3 bench data dirs (gen_sf.py output). Deterministic
    * (seeded rng), so a fresh container regenerates identical tables and
    * the committed DuckDB column stays paired with the data Spark runs
    * on.
    */
  private val Sf1Dir = "/tmp/graft_sf1"
  private val Sf3Dir = "/tmp/graft_sf3"
  private val Sf10Dir = "/tmp/graft_sf10"

  /** Load-gated measurement protocol (VERDICT r10 item 8): the r10 sf1
    * readings were stamped under 4.6–7.0 self-load (the bench's own
    * just-finished warm-up work still in the 1-minute load average),
    * which made ratio_raw vs ratio_live diverge by up to 0.26. Before
    * each timed gate, wait — bounded — for the 1-minute load average to
    * decay below the threshold; the JVM stays warm while the machine
    * quiets. Returns the load at gate time; the caller stamps
    * `load_gate_ok` so a reading taken on a machine that never quieted
    * is marked, not silently trusted.
    */
  private[graft] val QuietLoad = 2.0

  /** Per-round contamination probe (VERDICT r16 item 5: BENCH_r16's sf10
    * artifact was dirtied by load ARRIVING MID-RUN, which the one-shot
    * pre-gate cannot see). System-wide busy jiffies minus this process's
    * own jiffies (children included once reaped — the DuckDB passes are
    * waitFor'd) over a round's wall time = CPU cores consumed by OTHER
    * processes during the round. A round whose external share exceeds
    * the gate is discarded and re-run (bounded); the kept rounds' values
    * are stamped into the JSON so a contaminated artifact is visible.
    */
  private[graft] object LoadProbe {
    /** (system busy jiffies, self+reaped-children jiffies), or null when
      * /proc is unavailable (non-Linux) — callers then skip the gate.
      */
    def snapshot(): Array[Long] =
      try {
        val stat = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("/proc/stat")))
        val cpu = stat.linesIterator.next().trim.split("\\s+")
        // cpu user nice system idle iowait irq softirq steal ...
        val vals = cpu.drop(1).map(_.toLong)
        // busy = user..steal (indices 0-7). guest/guest_nice (8/9) are
        // already folded into user/nice by the kernel — summing them
        // would double-count guest CPU on a virtualization host and
        // spuriously trip the contamination gate.
        val busy = vals.zipWithIndex
          .collect { case (v, i) if i != 3 && i != 4 && i < 8 => v }.sum
        val self = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("/proc/self/stat")))
        val after = self.substring(self.lastIndexOf(')') + 2).split(" ")
        // man proc: utime=14 stime=15 cutime=16 cstime=17 (1-based,
        // counting from pid) -> indices 11..14 after the comm field
        val mine = after(11).toLong + after(12).toLong +
          after(13).toLong + after(14).toLong
        Array(busy, mine)
      } catch { case _: Exception => null }

    /** external CPU cores consumed during the window; -1 = unknown */
    def externalCores(before: Array[Long], after: Array[Long],
        wallSec: Double): Double =
      if (before == null || after == null || wallSec <= 0) -1.0
      else {
        val extJiffies = (after(0) - before(0)) - (after(1) - before(1))
        math.max(0.0, extJiffies / 100.0 / wallSec) // USER_HZ = 100
      }
  }

  private[graft] def awaitQuiet(maxWaitSec: Int): Double = {
    def loadAvg(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    val deadline = System.nanoTime() + maxWaitSec * 1000000000L
    var l = loadAvg()
    while (l > QuietLoad && System.nanoTime() < deadline) {
      Thread.sleep(5000)
      l = loadAvg()
    }
    l
  }

  /** Ensure a deterministic SF twin exists; generate it via the
    * committed script on first use (the same generator that produced the
    * data under the committed DuckDB sf1 baselines). Returns false — and
    * the caller omits the block — when generation is impossible (script
    * missing / no python), rather than failing the whole bench.
    */
  private def ensureSfData(sf: String, dir: String): Boolean = {
    if (new java.io.File(s"$dir/lineitem.parquet").exists()) return true
    val script = new java.io.File("scripts/gen_sf.py")
    if (!script.exists()) return false
    try {
      val p = new ProcessBuilder("python3", script.getPath, sf, dir)
        .redirectErrorStream(true).start()
      p.getInputStream.readAllBytes()
      p.waitFor() == 0 && new java.io.File(s"$dir/lineitem.parquet").exists()
    } catch { case _: Exception => false }
  }

  /** Stage the single-file, single-row-group testdata tables into a
    * multi-file layout once (untimed). The driver's files are one row
    * group each, which caps every Spark scan at one task; production data
    * at any real scale is many files/row groups, which is what the engine
    * is designed against. Data content is identical — queries still do
    * full scans, joins and shuffles.
    */
  def stage(spark: SparkSession, sfDir: String): String = {
    val staged = s"/tmp/graft_bench_cache/v2_${sfDir.replaceAll("[^A-Za-z0-9.]", "_")}"
    Tables.names.foreach { n =>
      val dst = new java.io.File(s"$staged/$n.parquet")
      // _SUCCESS marks a COMPLETE staging write; a bare dir from a crashed
      // prior run must be rewritten, not trusted
      if (!new java.io.File(dst, "_SUCCESS").exists()) {
        val df = Tables(spark, sfDir, n)
        // File count sized to data volume (compaction, as any lakehouse
        // does): small dim tables as one file — a 25-row table split into 8
        // files costs 8 scan tasks per query for nothing; fact tables scale
        // with volume (~200k rows/file, capped) so scan parallelism grows
        // with SF instead of pinning at 8 tasks on a 32-core box (found at
        // sf1: an 8-file 6M-row lineitem made every scan 8-task-bound).
        val rows = df.count()
        val files =
          if (rows < 10000L) 1
          else math.max(8L, math.min(64L, rows / 200000L)).toInt
        df.repartition(files).write.mode("overwrite").parquet(dst.toString)
      }
    }
    staged
  }

  /** Shuffle width sized to the data, the scaling rule the brief states
    * outright ("size spark.sql.shuffle.partitions so partitions fit in
    * executor memory at the target SF"): one reduce task per ~8 MB of
    * staged input, floored at 8 (below that the per-task scheduling floor
    * dominates any parallelism gain — measured: the sf0.1 set runs ~15%
    * faster at 8 than at 32) and capped at the session's core count
    * (measured width curve for the biggest shuffle, c07 at sf1: 8→1.12 s,
    * 16→0.89, 32→0.83, 48→1.08, 64→1.15 — past one wave the extra map
    * outputs cost more than the reduce parallelism buys). On a real
    * cluster the same rule scales: bytes/target-partition-size, capped by
    * total cores, not a constant. Applied per staged dataset (a session
    * conf, re-set when the gate moves to a different SF twin); the
    * SPARK_GRAFT_SHUFFLE env var, when present, pins the width for A/B
    * runs.
    */
  private def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length
  private[graft] def sizeShuffle(spark: SparkSession, staged: String): Int = {
    val width = sys.env.get("SPARK_GRAFT_SHUFFLE").map(_.toInt).getOrElse {
      val mb = dirBytes(new java.io.File(staged)) >> 20
      val cores = spark.sparkContext.defaultParallelism
      math.max(8L, math.min(cores.toLong, mb / 8)).toInt
    }
    spark.conf.set("spark.sql.shuffle.partitions", width.toString)
    width
  }

  /** Queries whose OUTPUT scales with the input (dedup: one row per unique
    * document). collect() on those would time driver materialization, not
    * the engine — at sf1+ the transfer dominates. They run through a
    * cluster-side foreach sink instead: every operator (including the final
    * exchange) still executes, nothing ships to the driver.
    */
  private[graft] val unboundedOutput = Set("e01_exact_dedup")

  private[graft] def withAqe[A](spark: SparkSession, on: Boolean)(body: => A): A = {
    spark.conf.set("spark.sql.adaptive.enabled", on.toString)
    try body finally spark.conf.set("spark.sql.adaptive.enabled", "false")
  }

  private[graft] def fmt(rs: Seq[(String, Double)]): String =
    rs.map { case (k, v) => "\"" + k + "\":" + f"$v%.4f" }.mkString("{", ",", "}")

  /** The interleaved two-engine gate at an arbitrary SF dir (VERDICT r9
    * item 2a protocol): `rounds` alternating measurement rounds — one full
    * Spark pass over the headline set, then one live DuckDB pass
    * (baseline_sf.py, 1 timed round, the 8-thread BASELINE.md rules) — so
    * both engines sample the same machine-load window; per-query min over
    * the rounds on each side; the 1-minute system load average recorded
    * before and after as the covariate. `committed` supplies a
    * committed-constant baseline column (the sf1 continuity numbers);
    * when None (e.g. the sf3 settlement) only the live pairing reports.
    * Returns the gate as one JSON object.
    */
  /** Environment attribution probes (VERDICT r17 item 4: BENCH_r17's
    * sf10 artifact read 1.93 while every quiet-box run read 1.19-1.28,
    * and the external-CPU gate was blind to the cause — the candidates
    * are a page-cache-cold staged twin and memory-bandwidth
    * contention). Stamped per gate so a future >bar artifact carries
    * its own machine-checked attribution:
    *  - rereadMbps: sequential re-read throughput of the staged dir —
    *    a page-cache residency proxy (warm cache reads at memory
    *    speed, a cold twin at disk speed). Running it BEFORE the
    *    timed rounds doubles as the re-warm (the sf10 analogue of the
    *    sf1 discard rule).
    *  - membwGbps: single-thread copy bandwidth over 256 MiB — a
    *    memory-bandwidth-contention covariate.
    */
  private[graft] object EnvProbe {
    def rereadMbps(dir: String): Double =
      try {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isFile) Seq(f)
          else Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        val files = walk(new java.io.File(dir))
        val buf = new Array[Byte](1 << 20)
        var bytes = 0L
        val t0 = System.nanoTime()
        files.foreach { f =>
          val in = new java.io.FileInputStream(f)
          try {
            var n = 0
            while ({ n = in.read(buf); n > 0 }) bytes += n
          } finally in.close()
        }
        val sec = (System.nanoTime() - t0) / 1e9
        if (sec <= 0 || bytes == 0) -1.0 else bytes / 1e6 / sec
      } catch { case _: Exception => -1.0 }

    def membwGbps(): Double =
      try {
        val n = 64 << 20 // 256 MiB as ints
        val a = new Array[Int](n / 4)
        val b = new Array[Int](n / 4)
        System.arraycopy(a, 0, b, 0, a.length) // page-in
        val t0 = System.nanoTime()
        var i = 0
        while (i < 4) { System.arraycopy(a, 0, b, 0, a.length); i += 1 }
        val sec = (System.nanoTime() - t0) / 1e9
        // 4 copies x read+write of 256 MiB
        (4.0 * 2 * n) / 1e9 / sec
      } catch { case _: Exception => -1.0 }
  }

  private[graft] def interleavedGate(
      spark: SparkSession, dir: String, rounds: Int,
      committed: Option[Map[String, Double]]): String = {
    val staged1 = stage(spark, dir)
    val width = sizeShuffle(spark, staged1)
    def timeOnce1(name: String): Double = {
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, staged1)
      if (unboundedOutput(name)) df.queryExecution.toRdd.foreach(_ => ())
      else df.collect()
      (System.nanoTime() - t0) / 1e9
    }
    def loadAvg(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    // One live DuckDB pass: per-query seconds keyed by BASELINE id, or None
    // when the script/python is unavailable (the live block is then
    // omitted; the committed ratios still report when present).
    def duckOnce(): Option[Map[String, Double]] = {
      val script = new java.io.File("scripts/baseline_sf.py")
      if (!script.exists()) return None
      try {
        // stderr merges into stdout (the ensureSfData discipline): a
        // child filling a separate stderr pipe past the OS buffer would
        // deadlock against our readAllBytes-on-stdout. The B-id regex
        // extraction is line-noise-tolerant, so merged streams are safe.
        val p = new ProcessBuilder(
          "python3", script.getPath, dir, "1")
          .redirectErrorStream(true).start()
        val outStr = new String(p.getInputStream.readAllBytes())
        if (p.waitFor() != 0) None
        else {
          val m = """"(B\d+)": ?([0-9.eE+-]+)""".r
            .findAllMatchIn(outStr)
            .map(g => g.group(1) -> g.group(2).toDouble).toMap
          // key IDENTITY, not size: a renamed/reordered baseline set of
          // the same cardinality must omit the live block, not crash the
          // map lookups downstream
          if (headline.forall { case (_, bid) => m.contains(bid) }) Some(m)
          else None
        }
      } catch { case _: Exception => None }
    }
    val load1Before = loadAvg()
    val sparkRounds = Array.fill(rounds)(Map.empty[String, Double])
    val duckRounds = Array.fill(rounds)(Option.empty[Map[String, Double]])
    val extCores = Array.fill(rounds)(-1.0)
    val roundWall = Array.fill(rounds)(-1.0)
    var rereadBefore = -1.0
    var membwBefore = -1.0
    var dirtyRounds = 0
    // external-CPU gate per round (cores); contaminated rounds re-run
    val extGate =
      sys.env.getOrElse("SPARK_GRAFT_EXT_GATE", "1.0").toDouble
    var loadAtGate = load1Before
    withAqe(spark, on = true) {
      headline.foreach { case (name, _) => timeOnce1(name) } // warm
      duckOnce() // DuckDB warms per-invocation; one discard for parity
      // The warm-up itself saturates the box; let the 1-minute load
      // average decay below QuietLoad (bounded wait, JVM stays warm)
      // before any timed round — the r10 item-8 gate.
      loadAtGate = awaitQuiet(
        sys.env.getOrElse("SPARK_GRAFT_QUIET_WAIT", "240").toInt)
      // attribution stamps + cache re-warm (see EnvProbe)
      rereadBefore = EnvProbe.rereadMbps(staged1)
      membwBefore = EnvProbe.membwGbps()
      var r = 0
      val maxDiscards = rounds * 2 // bounded: a never-quiet box still ends
      while (r < rounds) {
        // SYMMETRY with the DuckDB side: baseline_sf.py runs 1 warm-up
        // then the timed execution back-to-back PER QUERY inside each
        // pass (the BASELINE.md rules). A Spark round that runs each
        // query once pays a cold transition between ten different plan
        // shapes that the DuckDB side never pays — measured at +60% on
        // the sf1 set vs the back-to-back form. So each round times the
        // second of two consecutive executions per query, exactly the
        // per-invocation discipline of the other engine.
        val w0 = System.nanoTime()
        val s0 = LoadProbe.snapshot()
        sparkRounds(r) =
          headline.map { case (name, _) =>
            timeOnce1(name)
            name -> timeOnce1(name)
          }.toMap
        duckRounds(r) = duckOnce()
        val ext = LoadProbe.externalCores(
          s0, LoadProbe.snapshot(), (System.nanoTime() - w0) / 1e9)
        if (ext > extGate && dirtyRounds < maxDiscards) {
          // mid-run contamination (the BENCH_r16 artifact class):
          // discard this round and re-run it in a cleaner window
          dirtyRounds += 1
        } else {
          extCores(r) = ext
          roundWall(r) = (System.nanoTime() - w0) / 1e9
          r += 1
        }
      }
    }
    val load1After = loadAvg()
    val sfResults = headline.map { case (name, _) =>
      name -> sparkRounds.map(_(name)).min
    }
    val sfTotal = sfResults.map(_._2).sum
    val committedField: String = committed.map { col =>
      val base = headline.map { case (n, _) => col(n) }.sum
      val ratios = sfResults.map { case (k, v) => k -> v / col(k) }
      s""","baseline_total_sec":${f"$base%.4f"},"ratio_raw":${f"${sfTotal / base}%.4f"},"ratios":${fmt(ratios)}"""
    }.getOrElse("")
    val liveField: String = {
      val obs = duckRounds.flatten
      if (obs.length < rounds) "" // any failed pass → no live claim
      else {
        val liveMin = headline.map { case (name, bid) =>
          name -> obs.map(_(bid)).min
        }
        val liveTotal = liveMin.map(_._2).sum
        val liveRatios = sfResults.zip(liveMin).map {
          case ((k, v), (_, b)) => k -> v / b
        }
        s""","baseline_live":${fmt(liveMin)},"baseline_live_total_sec":${f"$liveTotal%.4f"},"ratio_live":${f"${sfTotal / liveTotal}%.4f"},"ratios_live":${fmt(liveRatios)}"""
      }
    }
    val extField = extCores.map(v => f"$v%.2f").mkString("[", ",", "]")
    val wallField = roundWall.map(v => f"$v%.1f").mkString("[", ",", "]")
    val membwAfter = EnvProbe.membwGbps()
    s"""{"queries":${fmt(sfResults)},"total_sec":${f"$sfTotal%.4f"}$committedField$liveField,"rounds":$rounds,"shuffle_width":$width,"load1_before":${f"$load1Before%.2f"},"load1_gate":${f"$loadAtGate%.2f"},"load_gate_ok":${loadAtGate <= QuietLoad},"load1_after":${f"$load1After%.2f"},"ext_cores":$extField,"dirty_rounds":$dirtyRounds,"ext_gate":${f"$extGate%.2f"},"round_wall_sec":$wallField,"reread_mbps":${f"$rereadBefore%.0f"},"membw_gbps":[${f"$membwBefore%.1f"},${f"$membwAfter%.1f"}]}"""
  }

  /** Per-query maps stripped from gate JSON for the stdout compact line
    * (the full artifact keeps them in target/bench.json). Tested by
    * BenchCompactLineSpec against the driver's 2000-char stdout window
    * (VERDICT r15 item 8 — the r12–r14 artifact-null bug class).
    */
  private[graft] val StrippedMapKeys =
    Seq("queries", "ratios", "ratios_live", "baseline_live")

  private[graft] def stripMaps(json: String, keys: Seq[String]): String = {
    var s = json
    keys.foreach { k =>
      s = s.replaceAll("\"" + k + "\":\\{[^{}]*\\},?", "")
    }
    s.replaceAll(",\\}", "}")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Initial width only; sizeShuffle re-sets it per staged dataset below
    // (the data-proportional rule), and SPARK_GRAFT_SHUFFLE pins it.
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        sys.env.getOrElse("SPARK_GRAFT_PFIRST", "true"))
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        sys.env.getOrElse("SPARK_GRAFT_ADVISORY", "64m"))
      // scan granularity stays at the 128m default: Lab's in-session
      // (src/main/scala/graft/Lab.scala at commit 94bd873) A/B reads
      // mp16 ~9% faster on c14 at sf1 (385.5 vs 422.7 ms —
      // the single-file 165MB lineitem only splits into 2 tasks at
      // 128m), but a full r17 gate run at 16m DOUBLED the sf10 side
      // (19.6s vs ~10s: ~100 scan tasks per query across the suite).
      // Env knob kept for future experiments.
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MAXPART", "128m"))
      .config("spark.sql.files.openCostInBytes",
        sys.env.getOrElse("SPARK_GRAFT_OPENCOST", "4194304"))
      .config("spark.sql.session.timeZone", "UTC")
      // AQE stays ON in engine defaults (Graft.session) — it is the 100 TB
      // skew/coalesce safety net, and with a fair interleaved warm-up it is
      // also ~8% FASTER at bench volume (post-shuffle partition coalescing
      // outweighs the stage barriers here). The PRIMARY numbers therefore
      // run the engine-default adaptive config; a static-planning pass is
      // timed in the same run and reported alongside (queries_static /
      // total_static_sec) so the barrier cost envelope stays on record.
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Graft.prepare(spark)

    val staged = stage(spark, sfDir)
    sizeShuffle(spark, staged)

    def timeOnce(name: String): Double = {
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, staged)
      if (unboundedOutput(name)) df.queryExecution.toRdd.foreach(_ => ())
      else df.collect()
      (System.nanoTime() - t0) / 1e9
    }

    def withAqe[A](on: Boolean)(body: => A): A = Bench.withAqe(spark, on)(body)

    // Global warm-up of BOTH plan variants: file indexes, codegen
    // compilation, JIT. Static and adaptive plans compile DIFFERENT
    // generated classes, so each variant must warm its own — otherwise
    // whichever pass runs second inherits a warmer JVM and the comparison
    // measures run order, not planning mode (measured: ±0.3 s of pure
    // order effect at bench volume before this interleaved warm-up).
    // The DuckDB baseline protocol equally discards warm-up runs.
    withAqe(on = false) { headline.foreach { case (name, _) => timeOnce(name) } }
    withAqe(on = true) { headline.foreach { case (name, _) => timeOnce(name) } }

    // Static-planning pass (same protocol): the variant a tuned deployment
    // pins for a known workload — published alongside so the AQE stage
    // barriers' cost is measured, not assumed.
    val resultsStatic = withAqe(on = false) {
      headline.map { case (name, _) =>
        timeOnce(name)
        name -> (1 to 3).map(_ => timeOnce(name)).min
      }
    }

    // PRIMARY pass: engine-default adaptive planning (Graft.session).
    val results = withAqe(on = true) {
      headline.map { case (name, _) =>
        timeOnce(name)
        name -> (1 to 3).map(_ => timeOnce(name)).min
      }
    }

    // Spark's minimal fresh-query cost on this machine (plan + schedule +
    // collect of a 25-row table): the irreducible floor under every number
    // above (SURVEY.md §6 — sub-10ms baseline queries are floor-bound).
    def floorOnce(): Double = {
      val t0 = System.nanoTime()
      Tables(spark, staged, "nation").groupBy().count().collect()
      (System.nanoTime() - t0) / 1e9
    }
    floorOnce()
    val floor = (1 to 3).map(_ => floorOnce()).min

    val total = results.map(_._2).sum
    val totalStatic = resultsStatic.map(_._2).sum
    // Floor-adjusted ratio per query: (t − floor_sec) / baseline, the
    // load-robust number the round verdicts previously computed by hand —
    // the measured floor moves with machine load while (t − floor) tracks
    // the engine's own data-dependent work. Clamped at 0 for queries that
    // run at or under the floor. Only meaningful against the sf0.1
    // baseline denominators; omitted at other SFs.
    val floorAdj: Option[String] =
      if (sfDir.endsWith("sf0.1")) Some(fmt(results.map { case (k, v) =>
        k -> (math.max(0.0, v - floor) / baselineSec(k))
      })) else None
    val floorAdjField = floorAdj.map(j => s""","queries_floor_adj":$j""").getOrElse("")

    // STANDING sf1 gate (VERDICT r8 item 8; protocol hardened per r9
    // item 2a): the r8 settlement showed the sf0.1 ratios are dominated
    // by Spark's fixed stage floor against sub-30ms DuckDB budgets, and
    // the fair comparison lives at sf1 where those costs amortize. The
    // r9 verdict found the committed-constant ratio straddles 2× with
    // ±0.2 run-to-run variance because the DuckDB side is a constant
    // measured under DIFFERENT machine load than the Spark side. The
    // hardened protocol removes that asymmetry: 5 INTERLEAVED rounds —
    // each one full Spark pass over the 10 queries followed by one live
    // DuckDB pass (baseline_sf.py, 1 timed round, same 8-thread
    // BASELINE.md rules) — so both engines sample the same load window;
    // per-query min over the 5 rounds on each side; the 1-minute system
    // load average recorded before and after as the covariate. Both
    // ratios are emitted: ratio_live (same-window paired, the defensible
    // number) and ratio_raw vs the committed r8 column (continuity).
    // Skipped when the bench is pointed at a non-default SF, or when the
    // twin cannot be generated (no script: the JSON just lacks sf1).
    val sf1Field: String =
      if (!sfDir.endsWith("sf0.1") || sys.env.get("SPARK_GRAFT_SF1").contains("0")
          || !ensureSfData("1", Sf1Dir)) ""
      else s""","sf1":${interleavedGate(spark, Sf1Dir, 5, Some(baselineSf1Sec))}"""

    // sf3 settlement extension (VERDICT r9 item 2b), opt-in via
    // SPARK_GRAFT_SF3=1: the SAME interleaved gate at the sf3 twin, run
    // in the SAME process so it inherits the sf0.1 suite's fully-warmed
    // JVM exactly like the sf1 gate does. Measured standalone on a cold
    // JVM the Spark side reads ~2× slower from JIT alone (this round:
    // cold SettleSf 4.9× vs in-process 2.0× at sf1 on the same box;
    // src/main/scala/graft/SettleSf.scala at commit 94bd873),
    // which would fabricate an anti-amortization trend; in-process is
    // the honest apples-to-apples form. No committed DuckDB column
    // exists at sf3 — only the same-window live pairing reports.
    val sf3Field: String =
      if (sf1Field.isEmpty || !sys.env.get("SPARK_GRAFT_SF3").contains("1")
          || !ensureSfData("3", Sf3Dir)) ""
      else s""","sf3":${interleavedGate(spark, Sf3Dir, 5, None)}"""

    // sf10 amortization extension (VERDICT r10 item 1c), default ON
    // since r11 (SPARK_GRAFT_SF10=0 opts out): same in-process
    // interleaved gate at the sf10 twin — the scale where the sf1→sf3
    // slope predicted the remaining >2× queries cross below 2×, and
    // where the r11 data-sized shuffle width measured ratio_live 1.24
    // (the headline amortization row). 3 rounds (each is ~10× the sf1
    // wall-clock); live pairing only, no committed column.
    val sf10Field: String =
      if (sf1Field.isEmpty || sys.env.get("SPARK_GRAFT_SF10").contains("0")
          || !ensureSfData("10", Sf10Dir)) ""
      else s""","sf10":${interleavedGate(spark, Sf10Dir, 3, None)}"""

    val jsonLine = f"""{"metric":"total","value":$total%.4f,"unit":"sec","queries":${fmt(results)},"queries_static":${fmt(resultsStatic)},"total_static_sec":$totalStatic%.4f,"floor_sec":$floor%.4f$floorAdjField$sf1Field$sf3Field$sf10Field,"sf":"$sfDir"}"""
    // The driver captures only the LAST 2000 stdout chars (BENCH_r12–r14
    // all came back `parsed: null` because the full line, with four
    // per-query maps per gate, overflows that window). stdout therefore
    // carries a COMPACT line — the driver contract fields plus each
    // gate's headline numbers, maps stripped — and the full artifact
    // persists in target/bench.json.
    val compactGates = Seq(sf1Field, sf3Field, sf10Field)
      .map(stripMaps(_, StrippedMapKeys))
      .mkString
    val compactLine = f"""{"metric":"total","value":$total%.4f,"unit":"sec","queries":${fmt(results)},"total_static_sec":$totalStatic%.4f,"floor_sec":$floor%.4f$floorAdjField$compactGates,"sf":"$sfDir"}"""
    try {
      val out = java.nio.file.Paths.get("target", "bench.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out,
        (jsonLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case _: Exception => () } // best-effort; stdout stays canonical
    // r19 (VERDICT r18 item 2): print the compact line AFTER spark.stop()
    // so it is the forked JVM's LAST stdout line — nothing Spark emits at
    // shutdown can follow it. Paired with build.sbt's StdoutOutput
    // strategy (verbatim pass-through, column 0) this makes the driver's
    // tail window contain the bare JSON line. The timed protocol above is
    // untouched — this moves only where the already-computed string is
    // printed.
    spark.stop()
    println(compactLine)
    System.out.flush()
  }
}
