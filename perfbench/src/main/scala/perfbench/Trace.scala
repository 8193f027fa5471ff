package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch microseconds at nanoTime resolution, so harness spans and Spark's
  * epoch-millisecond event times share one axis.
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseMs * 1000 + (System.nanoTime() - baseNs) / 1000
}

/** A span: `parent` is -1 at the top; `kind` is "call" for a harness span
  * around a call into the library and "sink" for a write command seen by
  * the QueryExecutionListener. Compile and GC time are JVM-wide deltas
  * taken at the span's boundaries.
  */
final case class Span(id: Int, name: String, kind: String, var parent: Int,
    startUs: Long, var endUs: Long, var compileMs: Double = 0, var gcMs: Double = 0,
    attrs: mutable.Map[String, Double] = mutable.LinkedHashMap.empty)

final case class TaskRec(launchMs: Long, finishMs: Long, runMs: Long, cpuNs: Long,
    inBytes: Long, outBytes: Long, shuffleBytes: Long, spillBytes: Long, failed: Boolean)

/** In-memory trace recorder for one run. Spans come from the harness (around
  * each call into a public entry point) and from Spark's public listener
  * APIs (SparkListener for jobs/stages/tasks, QueryExecutionListener for
  * planning phases and write commands, CodeGenerator for compile time).
  * Listener records are attributed to spans by time after the run; nothing
  * is written until [[dump]].
  */
final class Recorder(spark: SparkSession, val runId: String) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val jobs = new ConcurrentLinkedQueue[java.lang.Long]()
  private val stages = new ConcurrentLinkedQueue[java.lang.Long]()
  private val plans = new ConcurrentLinkedQueue[(Long, Double)]()
  private val sinks = new ConcurrentLinkedQueue[Span]()
  private var attached = false

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.add(e.stageInfo.completionTime.map(Long.box).getOrElse(Long.box(System.currentTimeMillis())))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = Option(e.taskMetrics)
      tasks.add(TaskRec(i.launchTime, i.finishTime,
        m.map(_.executorRunTime).getOrElse(0L), m.map(_.executorCpuTime).getOrElse(0L),
        m.map(_.inputMetrics.bytesRead).getOrElse(0L), m.map(_.outputMetrics.bytesWritten).getOrElse(0L),
        m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L), i.failed))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val start = if (phases.isEmpty) System.currentTimeMillis() else phases.values.map(_.startTimeMs).min
      plans.add((start, phases.values.map(_.durationMs).sum.toDouble))
      writeCommand(qe.executedPlan).map(_.cmd).foreach {
        case c: InsertIntoHadoopFsRelationCommand =>
          def metric(k: String) = c.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
          val s = Span(-1, c.outputPath.toString, "sink", -1, start * 1000,
            start * 1000 + durationNs / 1000)
          s.attrs ++= Seq("files" -> metric("numFiles"), "rows" -> metric("numOutputRows"),
            "bytes" -> metric("numOutputBytes"))
          sinks.add(s)
        case _ =>
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** The write command of a plan, looking through adaptive query stages. */
  private def writeCommand(p: SparkPlan): Option[DataWritingCommandExec] = p match {
    case w: DataWritingCommandExec => Some(w)
    case a: AdaptiveSparkPlanExec => writeCommand(a.executedPlan)
    case q: QueryStageExec => writeCommand(q.plan)
    case other => other.children.iterator.map(writeCommand).collectFirst { case Some(w) => w }
  }

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  private def gcMsNow(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble

  /** Runs `body` inside a span named `name`, nested under the innermost
    * open span.
    */
  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, "call", open.headOption.map(_.id).getOrElse(-1), Clock.nowUs, -1)
    spans += s
    open.push(s)
    val cg0 = CodeGenerator.compileTime
    val gc0 = gcMsNow()
    try body
    finally {
      s.endUs = Clock.nowUs
      s.compileMs = (CodeGenerator.compileTime - cg0) / 1e6
      s.gcMs = gcMsNow() - gc0
      open.pop()
      ListenerBusDrain(spark.sparkContext)
    }
  }

  /** Moves the write commands seen so far into the span list, each under
    * the innermost call span that contains its start.
    */
  private def adoptSinks(): Unit = {
    var s = sinks.poll()
    while (s != null) {
      val host = spans.filter(p => p.kind == "call" && p.startUs <= s.startUs && s.startUs <= p.endUs)
        .sortBy(-_.startUs).headOption
      spans += s.copy(id = spans.size, parent = host.map(_.id).getOrElse(-1))
      s = sinks.poll()
    }
  }

  def children(s: Span): Seq[Span] = { adoptSinks(); spans.filter(_.parent == s.id).toSeq }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  private def covered(lo: Long, hi: Long, iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var cur = lo
    iv.map { case (a, b) => (a.max(lo), b.min(hi)) }.filter(x => x._1 < x._2).sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > cur) { total += b - a.max(cur); cur = b }
      }
    total
  }

  def durMs(s: Span): Double = (s.endUs - s.startUs) / 1000.0

  /** Span duration minus the part covered by its child spans. */
  def selfMs(s: Span): Double =
    durMs(s) - covered(s.startUs, s.endUs, children(s).map(c => (c.startUs, c.endUs))) / 1000.0

  /** Spark engine layers over the span's interval. */
  def layers(s: Span): Map[String, Double] = {
    val lo = s.startUs / 1000
    val hi = s.endUs / 1000
    def in(t: Long) = t >= lo && t <= hi
    val ts = tasks.asScala.filter(t => in(t.finishMs)).toSeq
    val busyMs = covered(s.startUs, s.endUs, ts.map(t => (t.launchMs * 1000, t.finishMs * 1000))) / 1000.0
    val mb = 1024.0 * 1024.0
    Map(
      "spark.jobs" -> jobs.asScala.count(t => in(t)).toDouble,
      "spark.stages" -> stages.asScala.count(t => in(t)).toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.failed_tasks" -> ts.count(_.failed).toDouble,
      "spark.plan_ms" -> plans.asScala.filter(p => in(p._1)).map(_._2).sum,
      "spark.codegen_compile_ms" -> s.compileMs,
      "spark.task_run_ms" -> ts.map(_.runMs).sum.toDouble,
      "spark.task_cpu_ms" -> ts.map(_.cpuNs).sum / 1e6,
      "spark.gc_ms" -> s.gcMs,
      "spark.idle_ms" -> (durMs(s) - busyMs),
      "spark.input_mb" -> ts.map(_.inBytes).sum / mb,
      "spark.output_mb" -> ts.map(_.outBytes).sum / mb,
      "spark.shuffle_write_mb" -> ts.map(_.shuffleBytes).sum / mb,
      "spark.spill_mb" -> ts.map(_.spillBytes).sum / mb)
  }

  /** Writes every span, with its self time, to `path` as JSON. */
  def dump(path: String): Unit = {
    adoptSinks()
    val rows = spans.map { s =>
      Map("id" -> s.id, "name" -> s.name, "kind" -> s.kind, "parent" -> s.parent,
        "run" -> runId, "start_us" -> s.startUs, "end_us" -> s.endUs,
        "dur_ms" -> durMs(s), "self_ms" -> selfMs(s)) ++ s.attrs
    }
    Json.write(path, Map("run" -> runId, "spans" -> rows))
  }
}
