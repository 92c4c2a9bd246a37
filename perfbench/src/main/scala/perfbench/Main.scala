package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** Harness main. Run through perfbench/run.py, which generates the input
  * tables, starts this JVM and runs the Python-side oracle checks:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --data DIR --run DIR --t0 EPOCH_MS --pre-s SECONDS
  *
  * `--t0` is when run.py started this JVM; `--pre-s` is the set-up time
  * run.py spent before that (table generation and staging).
  *
  * Writes `<run>/result.json`; with --trace 1 also the span trace under
  * `.bench_out/`.
  */
object Main {
  /** Spark task slots: one fewer than the machine's cores, so the driver
    * thread, JIT and GC threads and other processes do not take CPU from
    * a running stage (all four slots made full-scan passes swing with
    * outside load).
    */
  val Cores: Int = math.max(1, Runtime.getRuntime.availableProcessors - 1)
  val StageReps = 2
  val WarmPasses = 2
  val MinPasses = 3
  val HeapGcRounds = 8

  final case class OpRec(pass: Int, kind: String, id: String, ns: Long,
      failure: Option[String],
      counts: Seq[PlanStats.Counts], phases: Seq[(Long, Long, Long)])

  private def median(xs: Seq[Double]): Double = pct(xs, 50)
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.length - 1)
      val lo = math.floor(r).toInt; val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  private def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmrf))
    f.delete()
  }

  /** (system busy jiffies, own jiffies) from /proc: the external-CPU
    * covariate of graft.Bench's load probe. None off Linux.
    */
  private def procSnapshot(): Option[(Long, Long)] =
    try {
      val cpu = scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+")
      val v = cpu.drop(1).map(_.toLong)
      val busy = v.zipWithIndex.collect { case (x, i) if i != 3 && i != 4 && i < 8 => x }.sum
      val self = scala.io.Source.fromFile("/proc/self/stat").mkString
      val f = self.substring(self.lastIndexOf(')') + 2).split(" ")
      Some((busy, f(11).toLong + f(12).toLong))
    } catch { case _: Exception => None }

  /** Machine-speed covariate: ms for a fixed single-thread loop, the
    * median of five. Stamped before and after the timed passes so a run
    * made while the machine was slow shows as such.
    */
  private def cpuProbeMs(): Double = {
    def once(): Double = {
      val t = System.nanoTime(); var x = 0L; var i = 0
      while (i < 20000000) { x += (i ^ (x >>> 3)) * 31; i += 1 }
      if (x == 42) println()
      (System.nanoTime() - t) / 1e6
    }
    median(Seq.fill(5)(once()))
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val runDir = a("run")
    val t0Ms = a("t0").toLong

    val confs = Seq(
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      // the status store keeps finished jobs, stages, tasks and SQL
      // executions even without a UI and trims them in batches, which
      // would make heap_live_mb a sawtooth of the op count
      "spark.ui.retainedJobs" -> "20",
      "spark.ui.retainedStages" -> "20",
      "spark.ui.retainedTasks" -> "500",
      "spark.sql.ui.retainedExecutions" -> "5",
      "spark.local.dir" -> s"$runDir/spark-local",
      "spark.sql.warehouse.dir" -> s"$runDir/warehouse")
    val spark = confs.foldLeft(SparkSession.builder().master(s"local[$Cores]")
      .appName("perfbench"))((b, kv) => b.config(kv._1, kv._2)).getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    graft.Graft.prepare(spark)

    val sessionMs = System.currentTimeMillis()
    val w = Workload(a("workload"), spark, seed, a("data"))
    var untimedS = 0.0 // oracle preparation and checks before the first op
    def secsSince(t: Long) = (System.nanoTime() - t) / 1e9

    // set-up: the staging step runs StageReps times into fresh dirs; the
    // median replaces their sum in setup_s, the last copy is kept
    val stageS = (0 until StageReps).map { i =>
      if (i > 0) rmrf(new File(s"$runDir/stage${i - 1}"))
      val t = System.nanoTime(); w.stage(s"$runDir/stage$i"); secsSince(t)
    }
    val stagedMs = System.currentTimeMillis()
    val stageDir = s"$runDir/stage${StageReps - 1}"
    val tp = System.nanoTime(); w.prepare(stageDir); untimedS += secsSince(tp)

    val ctx = new Ctx(spark)
    val failures = ArrayBuffer[String]()
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def cpu() = os.getProcessCpuTime
    def runOp(op: Op, pass: Int, i: Int, tracedOp: Boolean): (Long, Long, Option[String], Double) = {
      ctx.traced = tracedOp
      ctx.opId = s"p$pass.$i.${op.kind}"
      ctx.qes.clear()
      if (tracedOp) sc.setJobGroup(ctx.opId, op.label)
      val c0 = cpu(); val t = System.nanoTime()
      val check = try Right(ctx.span("op") { op.body(ctx) })
        catch { case e: Exception => Left(s"${op.label} threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
      val ns = System.nanoTime() - t; val cns = cpu() - c0
      if (tracedOp) sc.clearJobGroup()
      val tc = System.nanoTime()
      val failure = check.fold(Some(_), c =>
        try c() catch { case e: Exception => Some(s"${op.label} check threw $e") })
      (ns, cns, failure, secsSince(tc))
    }
    // warm-up: untimed passes (JIT, codegen, file indexes, memos)
    (-WarmPasses until 0).foreach { p =>
      w.ops(p).zipWithIndex.foreach { case (op, i) =>
        val (_, _, f, checkS) = runOp(op, p, i, tracedOp = false)
        untimedS += checkS
        f.foreach(m => failures += s"warm-up: $m")
      }
    }
    val warmedMs = System.currentTimeMillis()
    val setupS = a("pre-s").toDouble + (System.currentTimeMillis() - t0Ms) / 1000.0 -
      stageS.sum + median(stageS) - untimedS

    val rec = new Recorder
    val ops = ArrayBuffer[OpRec]()
    val passNs = ArrayBuffer[(Int, Long, Long)]() // pass, ns, cpuNs
    val floorMs = ArrayBuffer[Double]()
    val probeBefore = cpuProbeMs()
    val proc0 = procSnapshot(); val w0 = System.nanoTime()
    var pass = 0
    while (pass < MinPasses || secsSince(w0) < seconds) {
      if (traced) { rec.pass = pass; sc.addSparkListener(rec) }
      var pNs = 0L; var pCpu = 0L
      w.ops(pass).zipWithIndex.foreach { case (op, i) =>
        val (ns, cns, f, _) = runOp(op, pass, i, traced)
        pNs += ns; pCpu += cns
        f.foreach(failures += _)
        ops += OpRec(pass, op.kind, ctx.opId, ns, f,
          ctx.qes.map(q => PlanStats.of(q.executedPlan)).toSeq,
          ctx.qes.map(PlanStats.phasesMs).toSeq)
      }
      if (traced) {
        org.apache.spark.PerfbenchBus.drain(sc)
        sc.removeSparkListener(rec)
        (0 until 3).foreach { _ =>
          val t = System.nanoTime(); sc.parallelize(Seq(1), 1).count()
          floorMs += (System.nanoTime() - t) / 1e6
        }
      }
      passNs += ((pass, pNs, pCpu))
      pass += 1
    }
    val wallS = secsSince(w0)
    val probeAfter = cpuProbeMs()
    val phases = Seq("session_s" -> (sessionMs - t0Ms) / 1000.0, "stage_s" -> stageS.sum,
      "warmup_s" -> (warmedMs - stagedMs) / 1000.0, "timed_s" -> wallS)
    val extCores = (proc0, procSnapshot()) match {
      case (Some(b), Some(e)) => math.max(0.0, ((e._1 - b._1) - (e._2 - b._2)) / 100.0 / wallS)
      case _ => -1.0
    }
    // the last op's plans would pin its broadcasts. What an op leaves
    // behind is freed over a chain of GCs (the context cleaner drops
    // shuffles and broadcasts only after a GC finds them unreachable):
    // after a join_fresh op the third GC still read ~32 MiB more than the
    // fourth, so the smallest of several rounds is the live heap
    ctx.qes.clear()
    val heapMb = (1 to HeapGcRounds).map { _ =>
      System.gc(); Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

    val timedOps = ops.toSeq
    val lat = timedOps.map(_.ns / 1e6)
    def summary(xs: Seq[Double]) = Map("median" -> median(xs), "q1" -> pct(xs, 25),
      "q3" -> pct(xs, 75), "n" -> xs.length.toDouble)
    val passS = passNs.map(_._2 / 1e9).toSeq
    val cpuS = passNs.map(_._3 / 1e9).toSeq
    val failed = timedOps.count(_.failure.isDefined)
    val e2e = Seq(
      ("setup_s", "s", setupS, summary(Seq(setupS))),
      ("pass_s", "s", median(passS), summary(passS)),
      ("op_ms_p50", "ms", median(lat), summary(lat)),
      ("op_ms_tail", "ms", pct(lat, w.tailPct), summary(lat)),
      ("cpu_s", "s", median(cpuS), summary(cpuS)),
      ("heap_live_mb", "MiB", heapMb, summary(Seq(heapMb))),
      ("fail_frac", "ratio", failed.toDouble / math.max(1, timedOps.length),
        summary(Seq(failed.toDouble / math.max(1, timedOps.length)))))

    val layers = if (traced) Layers.metrics(w, timedOps, passNs.toSeq, rec, ctx.spans.toSeq,
      floorMs.toSeq, Cores) else Nil
    // the mechanisms the per-layer metrics are meant to show must be there
    if (traced) {
      val m = layers.map { case (n, _, v) => n -> v }.toMap
      if (m("scan.rows_read") <= 0) failures += "traced: scan.rows_read is 0, the plan reader saw no scan"
      failures ++= w.traceChecks(m).map("traced: " + _)
    }
    if (traced) Layers.writeTrace(s".bench_out/trace-${w.name}-s$seed.json", rec, ctx.spans.toSeq, layers)

    w.finish(runDir)
    val sb = new StringBuilder
    sb ++= s"""{"workload":${Json.str(w.name)},"seed":$seed,"traced":$traced,"""
    sb ++= s""""attempted":${timedOps.length},"failed":$failed,"passes":$pass,"""
    sb ++= s""""timed_wall_s":${Json.num(wallS)},"tail_pct":${Json.num(w.tailPct)},"""
    sb ++= s""""failures":[${failures.take(20).map(Json.str).mkString(",")}],"""
    sb ++= """"kinds":{""" + timedOps.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, os) =>
      s"${Json.str(k)}:[${os.length},${os.count(_.failure.isDefined)}]" }.mkString(",") + "},"
    sb ++= s""""op_ms":[${timedOps.map(o => Json.num(o.ns / 1e6)).mkString(",")}],"""
    sb ++= """"kind_ms":{""" + timedOps.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, os) =>
      s"${Json.str(k)}:${Json.num(median(os.map(_.ns / 1e6)))}" }.mkString(",") + "},"
    sb ++= """"end_to_end":{""" + e2e.map { case (n, u, v, s) =>
      s"""${Json.str(n)}:{"value":${Json.num(v)},"unit":${Json.str(u)},""" +
        s.map { case (k, x) => s"${Json.str(k)}:${Json.num(x)}" }.mkString(",") + "}"
    }.mkString(",") + "},"
    sb ++= """"per_layer":{""" + layers.map { case (n, u, v) =>
      s"""${Json.str(n)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}"""
    }.mkString(",") + "},"
    sb ++= s""""stamp":{"nproc":${Runtime.getRuntime.availableProcessors},"cores":$Cores,""" +
      s""""heap_max_mb":${Runtime.getRuntime.maxMemory / 1048576},"ext_cores":${Json.num(extCores)},""" +
      s""""cpu_probe_ms":[${Json.num(probeBefore)},${Json.num(probeAfter)}],""" +
      s""""stage_s":[${stageS.map(Json.num).mkString(",")}],""" +
      s""""phases":{${phases.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(",")}},""" +
      s""""confs":{${confs.filterNot(_._1.endsWith(".dir")).map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString(",")}}}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$runDir/result.json"), sb.toString)
    spark.stop()
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
}
