package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import scala.collection.mutable.ArrayBuffer

/** What the listener saw of one Spark job. Tasks fold into it as they end. */
final class JobRec(val id: Int, val group: String, val span: String, val startMs: Long) {
  @volatile var endMs: Long = -1L
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var resultBytes = 0L
  var inputBytes = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
}

/** Stage and task spans as recorded from `onStageCompleted` / `onTaskEnd`. */
final case class StageRec(job: Int, stage: Int, startMs: Long, durMs: Long, tasks: Int)
final case class TaskRec(job: Int, stage: Int, startMs: Long, durMs: Long)

/** SparkListener for the traced run. Jobs are attributed to an op through
  * the job group the harness sets, and to a code span through the
  * `perfbench.span` local property; blocks are attributed to the pass
  * that was current when the bus delivered them (the harness drains the
  * bus before it moves to the next pass).
  */
final class Recorder extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRec]()
  val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()
  @volatile var pass: Int = -1
  val blockBytes = new ConcurrentHashMap[Int, java.lang.Long]()
  val blockCount = new ConcurrentHashMap[Int, java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")
    val span = p.flatMap(x => Option(x.getProperty(Ctx.SpanProperty))).getOrElse("")
    val rec = new JobRec(e.jobId, group, span, e.time)
    rec.stages = e.stageIds.length
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val start = i.submissionTime.getOrElse(0L)
    stages.add(StageRec(stageJob.getOrDefault(i.stageId, -1), i.stageId, start,
      i.completionTime.map(_ - start).getOrElse(-1L), i.numTasks))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val job = stageJob.get(e.stageId)
    val rec = jobs.get(job)
    if (rec == null) return
    val info = e.taskInfo
    tasks.add(TaskRec(job, e.stageId, info.launchTime, info.finishTime - info.launchTime))
    val m = e.taskMetrics
    rec.synchronized {
      rec.tasks += 1
      if (m != null) {
        rec.runMs += m.executorRunTime
        rec.cpuNs += m.executorCpuTime
        rec.gcMs += m.jvmGCTime
        if (e.taskType == "ResultTask") rec.resultBytes += m.resultSize
        rec.inputBytes += m.inputMetrics.bytesRead
        rec.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        rec.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        rec.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    // persist / localCheckpoint blocks only; broadcast pieces are not
    // materialization
    if (b.blockId.isRDD && b.storageLevel.isValid) {
      blockBytes.merge(pass, b.memSize + b.diskSize, (a, c) => a + c)
      blockCount.merge(pass, 1L, (a, c) => a + c)
    }
  }

}

/** Reads row and node counts off an executed physical plan. Adaptive
  * plans are unwrapped to the final plan, query stages to the stage plan,
  * and subqueries are included: a plain `collect` over `executedPlan`
  * stops at the AdaptiveSparkPlanExec node and sees no scan at all.
  */
object PlanStats extends AdaptiveSparkPlanHelper {

  def nodes(p: SparkPlan): Seq[SparkPlan] =
    p +: (allChildren(p) ++ p.subqueries).flatMap(nodes)

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  private def scanBelow(p: SparkPlan): Option[FileSourceScanExec] = p match {
    case s: FileSourceScanExec => Some(s)
    case _ => allChildren(p) match {
      case Seq(c) if !c.isInstanceOf[FilterExec] => scanBelow(c)
      case _ => None
    }
  }

  private val footerRows = new ConcurrentHashMap[String, java.lang.Long]()

  /** Row count of one parquet file from its footer (no Spark job). */
  def fileRows(f: String): Long =
    footerRows.computeIfAbsent(f, path => {
      val conf = new org.apache.hadoop.conf.Configuration()
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    })

  final case class Counts(
      scanRowsRead: Long, scanRowsTotal: Long, scanUseful: Long,
      scanTimeMs: Long, exchanges: Int, bnlJoins: Int, udfNodes: Int,
      gridRows: Long, leafRows: Long)

  def of(plan: SparkPlan): Counts = {
    val all = nodes(plan)
    val scans = all.collect { case s: FileSourceScanExec => s }
    val read = scans.map(metric(_, "numOutputRows")).sum
    val total = scans.map(s =>
      s.relation.location.inputFiles.filter(_.endsWith(".parquet")).map(fileRows).sum).sum
    // rows that survive the filter sitting directly on a scan; a scan with
    // no filter above it counts all of its rows as useful
    val filtered = all.collect { case f: FilterExec => f }
      .flatMap(f => scanBelow(f.child).map(s => s -> metric(f, "numOutputRows")))
    val filteredScans = filtered.map(_._1).toSet
    val useful = filtered.map(_._2).sum +
      scans.filterNot(filteredScans).map(metric(_, "numOutputRows")).sum
    val udfs = all.map(_.expressions.map(_.collect { case u: ScalaUDF => u }.size).sum).sum
    // grid-routed spatial joins explode each side over the cells its
    // envelope covers; the y-explode's output is the replicated side
    val grid = all.collect {
      case g: GenerateExec if g.generatorOutput.exists(_.name.startsWith("__graft_cell_y")) =>
        metric(g, "numOutputRows")
    }.sum
    val leaves = all.filter(n => allChildren(n).isEmpty).map(metric(_, "numOutputRows")).sum
    Counts(read, total, useful,
      scans.map(metric(_, "scanTime")).sum,
      all.count(_.isInstanceOf[Exchange]),
      all.count(n => n.isInstanceOf[BroadcastNestedLoopJoinExec] ||
        n.isInstanceOf[CartesianProductExec]),
      udfs, grid, leaves)
  }

  /** (analysis, optimization, physical planning) ms from the tracker. */
  def phasesMs(qe: org.apache.spark.sql.execution.QueryExecution): (Long, Long, Long) = {
    val ph = qe.tracker.phases
    def d(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    (d("analysis"), d("optimization"), d("planning"))
  }
}

/** One code span recorded by the harness around a call into a layer. */
final case class Span(id: Int, parent: Int, name: String, op: String,
    startNs: Long, var endNs: Long = -1L)

/** Op context: times calls into layers as spans (traced passes only) and
  * keeps the QueryExecutions an op ran so their plans can be read after
  * the op's timing has stopped.
  */
final class Ctx(spark: org.apache.spark.sql.SparkSession) {
  import org.apache.spark.sql.classic.ClassicConversions._
  var traced = false
  var opId = ""
  val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  val qes = ArrayBuffer[org.apache.spark.sql.execution.QueryExecution]()

  def span[A](name: String)(f: => A): A =
    if (!traced) f
    else {
      val sc = spark.sparkContext
      val prior = sc.getLocalProperty(Ctx.SpanProperty)
      val s = Span(spans.length, stack.headOption.getOrElse(-1), name, opId, System.nanoTime())
      spans += s
      stack = s.id :: stack
      sc.setLocalProperty(Ctx.SpanProperty, name)
      try f
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Ctx.SpanProperty, prior)
      }
    }

  /** Plans `df` (forcing the physical plan, where planning-time jobs run)
    * and then executes it to the driver.
    */
  def run(df: org.apache.spark.sql.DataFrame): Array[org.apache.spark.sql.Row] = {
    val qe = df.queryExecution
    span("plans") { qe.executedPlan }
    val rows = span("exec") { df.collect() }
    if (traced) qes += qe
    rows
  }
}

object Ctx {
  val SpanProperty = "perfbench.span"
}
