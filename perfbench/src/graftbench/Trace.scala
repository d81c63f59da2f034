package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.BenchBridge
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval. Times are nanoseconds from the tracer's origin;
  * `parent` is -1 for a root span. */
final case class Span(id: Int, parent: Int, name: String, module: String,
                      start: Long, end: Long)

/** In-memory span recorder for the traced run. Spans opened by the
  * client thread nest through a stack; spans reported by listener
  * threads (stages, streaming batches) name their parent explicitly.
  * With `on = false` nothing is recorded and `apply` only runs `body`. */
final class Tracer(val on: Boolean) {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  private val ids = new AtomicInteger(0)
  private val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil

  def now: Long = System.nanoTime() - originNs
  def fromEpochMs(ms: Long): Long = (ms - originMs) * 1000000L
  def current: Int = stack.headOption.getOrElse(-1)

  def apply[T](name: String, module: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = current
      stack = id :: stack
      val t0 = now
      try body
      finally {
        stack = stack.tail
        add(Span(id, parent, name, module, t0, now))
      }
    }

  def record(parent: Int, name: String, module: String, start: Long,
             end: Long): Unit =
    if (on) add(Span(ids.incrementAndGet(), parent, name, module, start,
      math.max(start, end)))

  private def add(s: Span): Unit = synchronized { spans += s }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Per-module self time in seconds: each span's duration minus the
    * part of its interval that its child spans cover. */
  def selfSeconds: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.module).map { case (m, xs) =>
      m -> xs.map { s =>
        val covered = Intervals.union(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
        (s.end - s.start - covered).max(0L)
      }.sum / 1e9
    }
  }

  def writeJson(path: String): Unit = {
    val body = all.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""module":${Json.str(s.module)},"start_ns":${s.start},"end_ns":${s.end}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body)
  }
}

/** Where spans reported by listener threads nest: the start time and
  * span id of each half (plan, execute) of each op, by job group.
  * Listener events arrive late, so the parent is chosen by time. */
final class Halves {
  private val byGroup = new ConcurrentHashMap[String, java.util.List[(Long, Int)]]()

  def open(group: String, span: Int): Unit =
    byGroup.computeIfAbsent(group, _ => new java.util.concurrent.CopyOnWriteArrayList())
      .add((System.currentTimeMillis(), span))

  /** The half of `group` running at epoch `ms` (-1 if none). */
  def parentAt(group: String, ms: Long): Int =
    Option(byGroup.get(group)).map(_.asScala.toSeq).flatMap { hs =>
      hs.filter(_._1 <= ms).lastOption.orElse(hs.headOption)
    }.map(_._2).getOrElse(-1)
}

object Intervals {
  /** Total length covered by a set of (start, end) intervals. */
  def union(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- xs.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Task and stage totals of one job group (one op), accumulated by
  * [[StageListener]]. */
final class StageStats {
  var jobs, stages, tasks, failedTasks = 0L
  var cpuNs, gcMs, waitMs, inputRecords = 0L
  var shuffleWrite, shuffleRead, shuffleRecords, spill, peakMem = 0L
  val taskMs = ArrayBuffer[Long]()
  val stageSpans = ArrayBuffer[(Long, Long)]() // epoch ms

  def +=(o: StageStats): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    waitMs += o.waitMs; inputRecords += o.inputRecords
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    shuffleRecords += o.shuffleRecords; spill += o.spill
    peakMem = math.max(peakMem, o.peakMem)
    taskMs ++= o.taskMs; stageSpans ++= o.stageSpans
  }
}

/** Stage-level metrics keyed by Spark job group: the benchmark runs
  * each op under its own group, so every job, stage and task is
  * attributed to the op that caused it. Completed stages are also
  * recorded as spans under the op half running when they started, and
  * the file scans of every finished SQL execution are recorded against
  * the group whose jobs ran it. */
final class StageListener(tracer: Tracer, halves: Halves) extends SparkListener
    with AdaptiveSparkPlanHelper {
  final case class Scan(group: String, root: String, files: Long, rows: Long)
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  private val stats = new ConcurrentHashMap[String, StageStats]()
  private val scanQueue = new java.util.concurrent.ConcurrentLinkedQueue[Scan]()

  private def of(g: String): StageStats = stats.computeIfAbsent(g, _ => new StageStats)
  def get(g: String): StageStats = Option(stats.get(g)).getOrElse(new StageStats)
  def scans: Seq[Scan] = scanQueue.asScala.toSeq

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val g = Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) {
      js.stageInfos.foreach(si => stageGroup.put(si.stageId, g))
      Option(js.properties.getProperty("spark.sql.execution.id"))
        .foreach(x => execGroup.put(x.toLong, g))
      of(g).synchronized(of(g).jobs += 1)
    }
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionEnd =>
      val g = execGroup.get(e.executionId)
      if (g != null) BenchBridge.plan(e).foreach { plan =>
        collectWithSubqueries(plan) { case s: FileSourceScanExec => s }.foreach { s =>
          def m(k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
          val root = s.relation.location.rootPaths.headOption.map(_.toString).getOrElse("")
          scanQueue.add(Scan(g, root, m("numFiles"), m("numOutputRows")))
        }
      }
    case _ => ()
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(te.stageId)
    if (g != null) {
      val s = of(g)
      s.synchronized {
        s.tasks += 1
        if (!te.taskInfo.successful) s.failedTasks += 1
        val m = te.taskMetrics
        if (m != null) {
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.inputRecords += m.inputMetrics.recordsRead
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.shuffleRecords += m.shuffleReadMetrics.recordsRead
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
          // scheduler delay, as the Spark UI defines it
          val dur = te.taskInfo.duration
          s.waitMs += math.max(0L, dur - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            te.taskInfo.gettingResultTime)
          s.taskMs += m.executorRunTime
        }
      }
    }
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val si = sc.stageInfo
    val g = stageGroup.get(si.stageId)
    if (g != null) {
      val s = of(g)
      val (t0, t1) = (si.submissionTime.getOrElse(0L),
        si.completionTime.getOrElse(0L))
      s.synchronized {
        s.stages += 1
        if (t0 > 0 && t1 >= t0) s.stageSpans += ((t0, t1))
      }
      if (t0 > 0) {
        tracer.record(halves.parentAt(g, t0), s"stage ${si.stageId} ${si.name.take(40)}", "stage",
          tracer.fromEpochMs(t0), tracer.fromEpochMs(t1))
      }
    }
  }
}

/** Streaming micro-batch progress: one row per batch, plus a span per
  * batch under the op half that ran it. A query is tied to the op
  * running when it starts: `onQueryStarted` is called synchronously by
  * `start()`, on the op's thread. */
final class StreamListener(tracer: Tracer, halves: Halves) extends StreamingQueryListener {
  final case class Batch(group: String, triggerMs: Long, addBatchMs: Long,
                         stateRows: Long, commitMs: Long)
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
  /** the op (job group) running now, set by the client */
  @volatile var group: String = ""
  private val runGroup = new ConcurrentHashMap[java.util.UUID, String]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    runGroup.put(e.runId, group)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val g = runGroup.getOrDefault(p.runId, "")
    val ops = p.stateOperators.toSeq
    batches.add(Batch(g, d("triggerExecution"), d("addBatch"),
      ops.map(_.numRowsTotal).sum, ops.map(_.commitTimeMs).sum))
    val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
    tracer.record(halves.parentAt(g, startMs), s"batch ${p.batchId}", "graft.streaming",
      tracer.fromEpochMs(startMs), tracer.fromEpochMs(startMs + d("triggerExecution")))
  }
}
