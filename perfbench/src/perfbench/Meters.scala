package perfbench

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spans recorded from the benchmark's own files around each call into the
  * program: name, start, end and parent, kept in memory and written out when
  * the run ends. Off unless the run is traced; then `span` only times. */
final class Trace(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[Int]()
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = { nextId += 1; nextId }
      val parent = stack.headOption.getOrElse(0)
      stack.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        stack.pop()
        spans += Span(id, parent, name, t0, System.nanoTime())
      }
    }

  def write(path: java.nio.file.Path): Unit = if (enabled) {
    val base = spans.map(_.startNs).minOption.getOrElse(0L)
    val lines = spans.sortBy(_.startNs).map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ms":${(s.startNs - base) / 1e6}%.3f,"end_ms":${(s.endNs - base) / 1e6}%.3f}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Counters of the Spark scheduler, from a listener the benchmark attaches. */
final class JobMeter extends SparkListener {
  final case class Totals(jobs: Long, stages: Long, tasks: Long, taskMs: Long, gcMs: Long,
      shuffleWriteBytes: Long, shuffleWriteRecords: Long, inputRecords: Long) {
    def -(o: Totals): Totals = Totals(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
      taskMs - o.taskMs, gcMs - o.gcMs, shuffleWriteBytes - o.shuffleWriteBytes,
      shuffleWriteRecords - o.shuffleWriteRecords, inputRecords - o.inputRecords)
  }
  private var t = Totals(0, 0, 0, 0, 0, 0, 0, 0)
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStart = mutable.HashMap.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    t = t.copy(jobs = t.jobs + 1); jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobSpans += (s -> e.time))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    t = t.copy(stages = t.stages + 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    t = if (m == null) t.copy(tasks = t.tasks + 1)
    else t.copy(tasks = t.tasks + 1, taskMs = t.taskMs + m.executorRunTime,
      gcMs = t.gcMs + m.jvmGCTime,
      shuffleWriteBytes = t.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
      shuffleWriteRecords = t.shuffleWriteRecords + m.shuffleWriteMetrics.recordsWritten,
      inputRecords = t.inputRecords + m.inputMetrics.recordsRead)
  }

  def totals(spark: SparkSession): Totals = { PerfbenchBridge.drain(spark.sparkContext); synchronized(t) }

  /** Seconds of [fromMs, toMs] (wall clock) covered by no Spark job. */
  def outsideJobs(spark: SparkSession, fromMs: Long, toMs: Long): Double = {
    PerfbenchBridge.drain(spark.sparkContext)
    val iv = synchronized(jobSpans.toSeq).map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = fromMs
    iv.foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    (toMs - fromMs - covered) / 1000.0
  }
}

/** Micro-batch phases and state-operator figures from a
  * StreamingQueryListener the benchmark attaches. */
final class BatchMeter extends StreamingQueryListener {
  val phases = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  var batches = 0L
  var inputRows = 0L
  var stateCommitMs = 0L
  var droppedByWatermark = 0L
  /** Latest (rows, bytes) per (query, operator). */
  val stateNow = mutable.HashMap.empty[(String, Int), (Long, Long)]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    batches += 1
    inputRows += p.numInputRows
    p.durationMs.asScala.foreach { case (k, v) => phases(k) += v.longValue }
    p.stateOperators.zipWithIndex.foreach { case (op, i) =>
      stateCommitMs += op.commitTimeMs
      droppedByWatermark += op.numRowsDroppedByWatermark
      stateNow((p.id.toString, i)) = (op.numRowsTotal, op.memoryUsedBytes)
    }
  }

  final case class Totals(batches: Long, inputRows: Long, phases: Map[String, Long],
      stateCommitMs: Long, dropped: Long, stateRows: Long, stateBytes: Long)

  def totals(spark: SparkSession): Totals = {
    PerfbenchBridge.drain(spark.sparkContext)
    synchronized(Totals(batches, inputRows, phases.toMap, stateCommitMs, droppedByWatermark,
      stateNow.values.map(_._1).sum, stateNow.values.map(_._2).sum))
  }
}

/** JVM-wide figures: collector time, heap peak, resident-set peak. */
object Jvm {
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum / 1000.0

  def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** VmHWM of this process, from /proc/self/status. */
  def rssPeakMb: Double = {
    val line = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
      .asScala.find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
