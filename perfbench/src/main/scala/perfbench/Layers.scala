package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of the traced passes, and the trace file. Every
  * metric is a mean over traced passes (pass totals) or traced ops (op
  * values), so integer-millisecond sources still average to a measured
  * fraction.
  */
object Layers {
  import Main.OpRec

  /** Code spans whose self time is reported. */
  val SpanNames = Seq("op", "plans", "exec", "geo.write", "geo.read", "geo.meta")

  private def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
  private def ms(s: Span): Double = (s.endNs - s.startNs) / 1e6

  /** Self time per span name for a set of spans (duration minus direct
    * child spans).
    */
  private def selfMs(spans: Seq[Span]): Map[String, Double] = {
    val childMs = spans.filter(_.parent >= 0).groupBy(_.parent).view.mapValues(_.map(ms).sum).toMap
    spans.groupBy(_.name).view.mapValues(_.map(s => ms(s) - childMs.getOrElse(s.id, 0.0)).sum).toMap
  }

  def metrics(w: Workload, tOps: Seq[OpRec], tPasses: Seq[(Int, Long, Long)],
      rec: Recorder, spans: Seq[Span], floorMs: Seq[Double],
      cores: Int): Seq[(String, String, Double)] = {
    val jobsByOp = rec.jobs.values().asScala.toSeq.groupBy(_.group)
    def jobs(o: OpRec) = jobsByOp.getOrElse(o.id, Nil)
    val spansByOp = spans.groupBy(_.op)
    def opSpans(o: OpRec, name: String) = spansByOp.getOrElse(o.id, Nil).filter(_.name == name)

    // per traced pass totals, then their mean
    def perPass(f: Seq[OpRec] => Double): Double =
      mean(tPasses.map { case (p, _, _) => f(tOps.filter(_.pass == p)) })
    def jobSum(os: Seq[OpRec], f: JobRec => Double) = os.flatMap(jobs).map(f).sum

    // scan-layer ratios are read on the range ops when the workload has
    // them (the joins scan everything by construction)
    val rangeOps = tOps.filter(_.kind.startsWith("range"))
    val scanOps = if (rangeOps.nonEmpty) rangeOps else tOps
    val sc = scanOps.flatMap(_.counts)
    val writes = tOps.filter(_.kind == "write")
    def planningJobs(os: Seq[OpRec]) =
      mean(os.map(o => jobs(o).count(_.span == "plans").toDouble))
    val fresh = tOps.filter(_.kind == "join_fresh").flatMap(_.counts)
    val selfByPass = tPasses.map { case (p, ns, _) =>
      val s = selfMs(tOps.filter(_.pass == p).flatMap(o => spansByOp.getOrElse(o.id, Nil)))
      SpanNames.map(n => n -> ratio(s.getOrElse(n, 0.0), ns / 1e6)).toMap
    }

    Seq(
      ("geo.write_jobs", "count", mean(writes.map(o => jobs(o).count(_.span == "geo.write").toDouble))),
      ("geo.bytes_per_row", "B", w match { case g: GeoWorkload => g.batchBytesPerRow; case _ => 0.0 }),
      ("plans.analyze_ms", "ms", mean(tOps.map(_.phases.map(_._1.toDouble).sum))),
      ("plans.optimize_ms", "ms", mean(tOps.map(_.phases.map(_._2.toDouble).sum))),
      ("plans.physical_ms", "ms", mean(tOps.map(_.phases.map(_._3.toDouble).sum))),
      ("plans.planning_jobs", "count", planningJobs(tOps)),
      ("plans.planning_jobs.join_fresh", "count", planningJobs(tOps.filter(_.kind == "join_fresh"))),
      ("plans.planning_jobs.join_repeat", "count", planningJobs(tOps.filter(_.kind == "join_repeat"))),
      ("plans.exchanges", "count", mean(tOps.map(_.counts.map(_.exchanges.toDouble).sum))),
      ("plans.bnl_joins", "count", mean(tOps.map(_.counts.map(_.bnlJoins.toDouble).sum))),
      ("plans.udf_nodes", "count", mean(tOps.map(_.counts.map(_.udfNodes.toDouble).sum))),
      ("sched.jobs", "count", perPass(os => os.map(jobs(_).size.toDouble).sum)),
      ("sched.stages", "count", perPass(os => jobSum(os, _.stages.toDouble))),
      ("sched.tasks", "count", perPass(os => jobSum(os, _.tasks.toDouble))),
      ("sched.floor_ms", "ms", mean(floorMs)),
      ("sched.idle_frac", "ratio", mean(tPasses.map { case (p, ns, _) =>
        1.0 - ratio(jobSum(tOps.filter(_.pass == p), _.runMs.toDouble) / 1e3, ns / 1e9 * cores) })),
      ("scan.rows_read", "count", perPass(os => os.flatMap(_.counts).map(_.scanRowsRead.toDouble).sum)),
      ("scan.rows_total", "count", perPass(os => os.flatMap(_.counts).map(_.scanRowsTotal.toDouble).sum)),
      ("scan.read_frac", "ratio", ratio(sc.map(_.scanRowsRead.toDouble).sum, sc.map(_.scanRowsTotal.toDouble).sum)),
      ("scan.useful_frac", "ratio", ratio(sc.map(_.scanUseful.toDouble).sum, sc.map(_.scanRowsRead.toDouble).sum)),
      ("scan.bytes", "B", perPass(os => jobSum(os, _.inputBytes.toDouble))),
      ("scan.time_ms", "ms", perPass(os => os.flatMap(_.counts).map(_.scanTimeMs.toDouble).sum)),
      ("compute.task_cpu_s", "s", perPass(os => jobSum(os, _.cpuNs / 1e9))),
      ("compute.task_run_s", "s", perPass(os => jobSum(os, _.runMs / 1e3))),
      ("compute.gc_s", "s", perPass(os => jobSum(os, _.gcMs / 1e3))),
      ("compute.cpu_ns_per_row", "ns", ratio(jobSum(scanOps, _.cpuNs.toDouble), sc.map(_.scanRowsRead.toDouble).sum)),
      // the range ops' task CPU over the process CPU of the pass: the
      // share a predicate-kernel change can move
      ("compute.range_cpu_frac", "ratio", mean(tPasses.map { case (p, _, cpuNs) =>
        ratio(jobSum(rangeOps.filter(_.pass == p), _.cpuNs.toDouble), cpuNs.toDouble) })),
      ("shuffle.write_bytes", "B", perPass(os => jobSum(os, _.shuffleWrite.toDouble))),
      ("shuffle.read_bytes", "B", perPass(os => jobSum(os, _.shuffleRead.toDouble))),
      ("shuffle.spill_bytes", "B", perPass(os => jobSum(os, _.spill.toDouble))),
      ("join.replication", "ratio", ratio(fresh.map(_.gridRows.toDouble).sum, fresh.map(_.leafRows.toDouble).sum)),
      ("mat.block_bytes", "B", mean(tPasses.map(p => Option(rec.blockBytes.get(p._1)).map(_.toDouble).getOrElse(0.0)))),
      ("mat.block_count", "count", mean(tPasses.map(p => Option(rec.blockCount.get(p._1)).map(_.toDouble).getOrElse(0.0)))),
      ("collect.result_bytes", "B", perPass(os => jobSum(os, _.resultBytes.toDouble)))
    ) ++ SpanNames.map(n => (s"self_frac.$n", "ratio", mean(selfByPass.map(_(n))))) ++ Seq(
      // absolute span times; zero on workloads that never call the layer
      ("geo.write_ms", "ms", mean(writes.flatMap(opSpans(_, "geo.write")).map(ms))),
      ("geo.read_ms", "ms", mean(tOps.flatMap(opSpans(_, "geo.read")).map(ms))),
      ("geo.meta_ms", "ms", mean(writes.flatMap(opSpans(_, "geo.meta")).map(ms))))
  }

  /** Writes spans (code, job, stage, task) and the per-layer metrics. */
  def writeTrace(path: String, rec: Recorder, spans: Seq[Span],
      layers: Seq[(String, String, Double)]): Unit = {
    val sb = new StringBuilder("{\"spans\":[")
    sb ++= spans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"op":${Json.str(s.op)},""" +
        s""""start_ns":${s.startNs},"dur_ms":${Json.num(ms(s))}}""").mkString(",")
    sb ++= "],\"jobs\":["
    sb ++= rec.jobs.values().asScala.toSeq.sortBy(_.id).map(j =>
      s"""{"id":${j.id},"op":${Json.str(j.group)},"span":${Json.str(j.span)},"start_ms":${j.startMs},""" +
        s""""dur_ms":${j.endMs - j.startMs},"stages":${j.stages},"tasks":${j.tasks},"run_ms":${j.runMs},""" +
        s""""cpu_ns":${j.cpuNs},"input_bytes":${j.inputBytes},"shuffle_write":${j.shuffleWrite},""" +
        s""""shuffle_read":${j.shuffleRead},"result_bytes":${j.resultBytes}}""").mkString(",")
    sb ++= "],\"stages\":["
    sb ++= rec.stages.asScala.toSeq.map(t =>
      s"""{"job":${t.job},"stage":${t.stage},"start_ms":${t.startMs},"dur_ms":${t.durMs},"tasks":${t.tasks}}""").mkString(",")
    sb ++= "],\"tasks\":["
    sb ++= rec.tasks.asScala.toSeq.map(t =>
      s"""{"job":${t.job},"stage":${t.stage},"start_ms":${t.startMs},"dur_ms":${t.durMs}}""").mkString(",")
    sb ++= "],\"per_layer\":{"
    sb ++= layers.map { case (n, u, v) => s"""${Json.str(n)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}""" }.mkString(",")
    sb ++= "}}"
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, sb.toString)
  }
}
