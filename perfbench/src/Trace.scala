package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** Largest heap in use right after a GC, while `armed`. A JMX notification
  * listener, not a Spark listener: it runs in untraced runs too, because
  * `heap_live_peak_mb` is an end-to-end metric.
  */
final class HeapPeak {
  @volatile var armed = false
  @volatile private var peakBytes = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { if (used > peakBytes) peakBytes = used }
      }
  }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  def peakMb: Double = {
    val bytes = synchronized(peakBytes)
    bytes / (1024.0 * 1024.0)
  }
  def close(): Unit = emitters.foreach(e => try e.removeNotificationListener(listener) catch {
    case _: Exception => ()
  })
}

/** Spans and counters of one benchmark run, kept in memory and written out
  * once, as JSON lines, when the run ends.
  *
  * Spans come from the benchmark's own code around each call into a layer;
  * the Spark jobs and stages those calls start are attributed to the
  * innermost open span through a job-local property, which Spark copies into
  * the threads an engine call starts. Stages are further attributed to a
  * module by the call site Spark puts in their name
  * (`<action> at <File>.scala:<line>`).
  *
  * With tracing off, `span` only runs its body and no Spark listener is
  * registered, so the end-to-end runs carry no tracing cost.
  */
final class Trace(val enabled: Boolean, sc: SparkContext, moduleOfFile: Map[String, String]) {
  import Trace._

  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private def toEpochMs(ns: Long): Double = epochMs0 + (ns - nano0) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var op = 0
  val counters = mutable.LinkedHashMap.empty[String, Double]

  /** Starts a new operation: later spans share its id until the next call. */
  def nextOp(): Unit = op += 1
  def currentOp: Int = op

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size + 1, op, open.headOption.map(_.id).getOrElse(0), name, System.nanoTime(), -1L)
      spans += s
      open = s :: open
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(SpanProp, open.headOption.map(_.id.toString).orNull)
      }
    }

  def spanName(id: Int): Option[String] = spans.lift(id - 1).map(_.name)
  def opOfSpan(id: Int): Int = spans.lift(id - 1).map(_.op).getOrElse(0)

  /** Durations of the closed spans called `name` in the given operations. */
  def durations(name: String, ops: Set[Int]): Seq[Double] =
    spans.toSeq.filter(s => s.name == name && ops(s.op) && s.endNs >= 0)
      .map(s => (s.endNs - s.startNs) / 1e9)

  // —— Spark-side events (registered only when tracing) ——
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  val writes = new java.util.concurrent.ConcurrentLinkedQueue[WriteRec]()
  /** Task metric sums per job id. */
  val taskSums = new ConcurrentHashMap[Int, Array[Double]]()
  @volatile private var marker: (String, CountDownLatch) = ("", new CountDownLatch(0))
  @volatile private var markerJob = -1

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val tag = props.flatMap(p => Option(p.getProperty(MarkerProp)))
      if (tag.contains(marker._1)) markerJob = e.jobId
      else if (tag.isEmpty) {
        val span = props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toInt).getOrElse(0)
        jobs.put(e.jobId, JobRec(e.jobId, span, e.time, -1L, e.stageIds))
        e.stageIds.foreach(stageJob.put(_, e.jobId))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)) match {
        case Some(j) => j.endMs = e.time
        case None => if (e.jobId == markerJob) marker._2.countDown()
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      if (stageJob.containsKey(i.stageId))
        stages.put(i.stageId, StageRec(i.stageId, stageJob.get(i.stageId),
          i.name.takeWhile(_ != '\n'), i.submissionTime.getOrElse(0L),
          i.completionTime.getOrElse(0L), i.numTasks, i.failureReason.nonEmpty))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stageJob.containsKey(e.stageId)) {
        val m = e.taskMetrics
        val sums = taskSums.computeIfAbsent(stageJob.get(e.stageId), _ => new Array[Double](TaskFields.size))
        sums.synchronized {
          sums(0) += 1
          if (e.reason != Success) sums(1) += 1
          if (m != null) {
            sums(2) += m.executorRunTime / 1e3
            sums(3) += m.executorCpuTime / 1e9
            sums(4) += m.jvmGCTime / 1e3
            sums(5) += m.shuffleWriteMetrics.bytesWritten
            sums(6) += m.shuffleReadMetrics.totalBytesRead
            sums(7) += m.memoryBytesSpilled + m.diskBytesSpilled
            sums(8) += m.inputMetrics.recordsRead
            sums(9) += m.inputMetrics.bytesRead
          }
        }
      }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      outputPath(qe).foreach(p => writes.add(WriteRec(p, durationNs)))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private def outputPath(qe: QueryExecution): Option[String] = {
    def fromPlan = Option(qe.logical).flatMap(_.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
    })
    def fromExec = Option(qe.executedPlan).flatMap(_.collectFirst {
      case d: DataWritingCommandExec if d.cmd.isInstanceOf[InsertIntoHadoopFsRelationCommand] =>
        d.cmd.asInstanceOf[InsertIntoHadoopFsRelationCommand].outputPath.toString
    })
    try fromPlan.orElse(fromExec) catch { case _: Exception => None }
  }

  def register(session: org.apache.spark.sql.SparkSession): Unit = if (enabled) {
    sc.addSparkListener(sparkListener)
    session.listenerManager.register(queryListener)
  }

  def unregister(session: org.apache.spark.sql.SparkSession): Unit = if (enabled) {
    sc.removeSparkListener(sparkListener)
    session.listenerManager.unregister(queryListener)
  }

  /** Waits until the listeners have seen every event posted so far: runs a
    * one-task job tagged as a marker and waits for its end event, which the
    * listener bus delivers after all earlier events on the same queue.
    */
  def drain(): Unit = if (enabled) {
    val latch = new CountDownLatch(1)
    marker = (java.util.UUID.randomUUID().toString, latch)
    sc.setLocalProperty(MarkerProp, marker._1)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(MarkerProp, null)
    latch.await(60, TimeUnit.SECONDS)
  }

  /** Self time of every span: its duration minus the union of its child
    * spans' intervals.
    */
  def selfTimes: Map[Int, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)).sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.id -> (s.endNs - s.startNs - covered) / 1e9
    }.toMap
  }

  /** Module of a stage, from the source file of the call site in its name. */
  def module(stageName: String): String =
    moduleOfFile.getOrElse(stageName.split(" at ").lastOption.getOrElse("").takeWhile(_ != ':'), "other")

  def writeJsonLines(path: String): Unit = if (enabled) {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try {
      val self = selfTimes
      spans.foreach { s =>
        out.println(f"""{"kind":"span","id":${s.id},"op":${s.op},"parent":${s.parent},""" +
          s""""name":${json(s.name)},"start_ms":${toEpochMs(s.startNs)},"end_ms":${toEpochMs(s.endNs)},""" +
          s""""self_s":${self(s.id)}}""")
      }
      jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
        out.println(s"""{"kind":"job","id":${j.id},"parent_span":${j.span},""" +
          s""""start_ms":${j.startMs},"end_ms":${j.endMs},"stages":[${j.stages.mkString(",")}]}""")
      }
      stages.values.asScala.toSeq.sortBy(_.id).foreach { s =>
        out.println(s"""{"kind":"stage","id":${s.id},"job":${s.job},"name":${json(s.name)},""" +
          s""""module":${json(module(s.name))},"start_ms":${s.submitMs},"end_ms":${s.endMs},""" +
          s""""tasks":${s.tasks},"failed":${s.failed}}""")
      }
      stages.values.asScala.toSeq.groupBy(s => module(s.name)).toSeq.sortBy(_._1).foreach { case (m, ss) =>
        out.println(s"""{"kind":"module","name":${json(m)},"stages":${ss.size},""" +
          s""""stage_s":${ss.map(s => (s.endMs - s.submitMs) / 1e3).sum}}""")
      }
      counters.foreach { case (k, v) =>
        out.println(s"""{"kind":"counter","name":${json(k)},"value":$v}""")
      }
    } finally out.close()
  }
}

object Trace {
  final case class Span(id: Int, op: Int, parent: Int, name: String, startNs: Long, var endNs: Long)
  final case class JobRec(id: Int, span: Int, startMs: Long, var endMs: Long, stages: Seq[Int])
  final case class StageRec(id: Int, job: Int, name: String, submitMs: Long, endMs: Long,
      tasks: Int, failed: Boolean)
  final case class WriteRec(path: String, durationNs: Long)

  val SpanProp = "perfbench.span"
  val MarkerProp = "perfbench.marker"
  /** Index of each field in a job's task metric sums. */
  val TaskFields = Seq("tasks", "failed_tasks", "task_s", "task_cpu_s", "gc_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "scan_rows", "scan_bytes")

  def json(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
