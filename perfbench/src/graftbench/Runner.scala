package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Runs one workload: the set-up `SetupReps` times from scratch, then
  * timed rounds by one closed-loop client until `seconds` have passed,
  * always in whole rounds. The first timed round is also the first time
  * the JVM runs each op, as it is for a user's first query of a session. */
object Runner {

  /** set-up repetitions per run; setup_s counts the median one */
  val SetupReps = 2

  def run(spark: SparkSession, w: Workload, seed: Long, seconds: Double,
          trace: Boolean, work: String, expected: Map[String, (Long, Long)],
          sessionS: Double): Int = {
    val tracer = new Tracer(trace)
    val b = new Bench(spark, seed, work, tracer, expected)
    def secs(t0: Long) = (System.nanoTime() - t0) / 1e9

    val repS = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      tracer(s"setup rep $rep", "setup")(w.setup(b, rep))
      b.log(f"${w.name} set-up rep $rep: ${secs(t0)}%.2f s")
      secs(t0)
    }

    val timed = ArrayBuffer[OpResult]()
    val t0 = System.nanoTime()
    var r = 1
    do {
      w.round(b, r).foreach(op => timed += b.run(op, r, "timed"))
      r += 1
    } while (secs(t0) < seconds)
    val wall = secs(t0)
    val rounds = r - 1

    // the second collection frees what the first queued for Spark's
    // ContextCleaner (broadcasts and shuffles referenced only weakly)
    System.gc()
    Thread.sleep(200)
    System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val lat = timed.map(_.wall).toSeq
    val attempted = timed.size + b.setupChecks
    val failed = b.failures.size
    val e2e = Map(
      "setup_s" -> (sessionS + Stats.median(repS)),
      "heap_live_mb" -> heapMb,
      "query_p50_s" -> Stats.quantile(lat, 0.5),
      "query_p90_s" -> Stats.quantile(lat, 0.9),
      "items_per_s" -> w.items(timed.filter(_.error.isEmpty).toSeq) / wall)

    val metrics = mutable.LinkedHashMap[String, Double]() ++= e2e
    metrics("failed_ratio") = failed.toDouble / attempted
    if (trace) {
      metrics ++= Main.workloads.values.flatMap(_.metricNames).map(_ -> 0.0)
      metrics ++= common(b, w, timed.toSeq, sessionS, repS.head - repS.min)
      metrics ++= w.traced(b, timed.toSeq)
      val self = tracer.selfSeconds
      metrics ++= SelfModules.map { case (module, metric) => metric -> self.getOrElse(module, 0.0) }
      metrics ++= e2e.map { case (k, v) => s"traced.$k" -> v }
      tracer.writeJson(s"$work/spans.json")
    }

    val counters = mutable.LinkedHashMap[String, Long]()
    b.observed.toSeq.sortBy(_._1).foreach { case (op, (n, c)) =>
      counters(s"rows.$op") = n
      counters(s"checksum.$op") = c
    }
    if (trace) {
      val s1 = round1(b, timed.toSeq)
      Seq("jobs" -> s1.jobs, "stages" -> s1.stages, "tasks" -> s1.tasks,
        "input_records" -> s1.inputRecords, "shuffle_write_bytes" -> s1.shuffleWrite,
        "shuffle_read_bytes" -> s1.shuffleRead, "shuffle_records" -> s1.shuffleRecords,
        "spill_bytes" -> s1.spill).foreach { case (k, v) => counters(s"stage.$k") = v }
    }

    // human-readable summary, then the machine-read result line
    val alias = Map("fleet" -> "queries_per_s", "corpus" -> "docs_per_s")(w.name)
    println(f"# ${w.name} seed=$seed trace=${if (trace) 1 else 0}: $rounds timed rounds, " +
      f"${timed.size} timed ops over $wall%.2f s, ${repS.size} set-up repetitions, " +
      f"$attempted ops and set-up checks attempted, $failed failed")
    metrics.foreach { case (k, v) =>
      val shown = if (k == "items_per_s") s"$k ($alias)" else k
      println(f"#   $shown%-40s $v%.6g")
    }
    if (w == Corpus) println(f"#   searches_per_s (distinct query ids answered) " +
      f"${Corpus.searches(timed.filter(_.error.isEmpty).toSeq) / wall}%.6g")
    b.failures.foreach(f => println(s"# FAILED $f"))
    val body = metrics.map { case (k, v) => s"${Json.str(k)}:${num(v)}" }.mkString(",")
    val cnt = counters.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString(",")
    println(s"""RESULT {"attempted":$attempted,"failed":$failed,""" +
      s""""rounds":$rounds,"timed_ops":${timed.size},"metrics":{$body},"counters":{$cnt}}""")
    0
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  /** Stage totals of every op of the first timed round: the same ops
    * in every run, so the counters repeat for one seed. */
  def round1(b: Bench, timed: Seq[OpResult]): StageStats = {
    val s = new StageStats
    timed.filter(_.round == 1).foreach(o => s += b.stages.get(o.group))
    s
  }

  private def common(b: Bench, w: Workload, timed: Seq[OpResult],
                     sessionS: Double, warmupS: Double): Map[String, Double] = {
    b.drain()
    val r1 = timed.filter(_.round == 1)
    val s = round1(b, timed)
    val gap = r1.map { o =>
      val st = b.stages.get(o.group).stageSpans.toSeq
      val covered = Intervals.union(st.map { case (a, z) =>
        (math.max(a, o.startMs), math.min(z, o.endMs)) })
      math.max(0L, o.endMs - o.startMs - covered)
    }.sum / 1e3
    val tms = s.taskMs.map(_.toDouble).toSeq
    val stage = Map(
      "stage.jobs" -> s.jobs.toDouble, "stage.stages" -> s.stages.toDouble,
      "stage.tasks" -> s.tasks.toDouble, "stage.failed_tasks" -> s.failedTasks.toDouble,
      "stage.cpu_s" -> s.cpuNs / 1e9, "stage.gc_s" -> s.gcMs / 1e3,
      "stage.task_wait_s" -> s.waitMs / 1e3,
      "stage.input_records" -> s.inputRecords.toDouble,
      "stage.shuffle_write_bytes" -> s.shuffleWrite.toDouble,
      "stage.shuffle_read_bytes" -> s.shuffleRead.toDouble,
      "stage.shuffle_records" -> s.shuffleRecords.toDouble,
      "stage.spill_bytes" -> s.spill.toDouble,
      "stage.peak_task_mem_mb" -> s.peakMem / 1048576.0,
      "stage.task_skew" -> (if (tms.isEmpty) 0.0
        else tms.max / math.max(1.0, Stats.median(tms))),
      "stage.driver_gap_s" -> gap)

    val plan = timed.map(_.plan)
    val exec = timed.map(_.exec)
    val query = Map(
      "query.plan_s" -> Stats.median(plan),
      "query.exec_s" -> Stats.median(exec),
      "query.plan_share" -> plan.sum / math.max(1e-9, plan.sum + exec.sum))

    val ops = timed.groupBy(_.metric).map { case (m, xs) =>
      s"op.${w.name}.$m.s" -> Stats.median(xs.map(_.wall))
    }

    val rowsOut = r1.filter(_.rows >= 0).map(_.rows).sum.toDouble
    val scans = b.stages.scans.filter(sc => r1.exists(_.group == sc.group))
    val layoutScans = scans.filter(sc => layoutKind(sc.root).nonEmpty)
    val files = layoutScans.map(_.files).sum.toDouble
    val layoutFiles = layoutScans.map(sc => Layout.fileCount(sc.root)).sum.toDouble
    val operators = Map(
      "operators.rows_out_ratio" -> rowsOut / math.max(1.0, s.inputRecords.toDouble),
      "operators.layout_files_ratio" -> files / math.max(1.0, layoutFiles))

    val batches = b.streams.batches.asScala.toSeq.filter(x => r1.exists(_.group == x.group))
    val streaming = Map(
      "streaming.batches" -> batches.size.toDouble,
      "streaming.batch_ms_p50" -> Stats.median(batches.map(_.triggerMs.toDouble)),
      "streaming.trigger_overhead_ms" ->
        Stats.median(batches.map(x => (x.triggerMs - x.addBatchMs).toDouble)),
      "streaming.state_rows" -> (if (batches.isEmpty) 0.0 else batches.map(_.stateRows).max.toDouble),
      "streaming.state_commit_ms" -> Stats.median(batches.map(_.commitMs.toDouble)))

    val setupMed = b.setupTimes.map { case (k, xs) => k -> Stats.median(xs.toSeq) }
    val setup = Map(
      "setup.session_s" -> sessionS,
      "setup.generate_s" -> setupMed.getOrElse("setup.generate_s",
        setupMed.getOrElse("berlinmod.generate_s", 0.0)),
      "setup.warmup_s" -> warmupS)

    stage ++ query ++ ops ++ operators ++ streaming ++ setup ++
      setupMed.filter(_._1.contains('.')) ++ b.setupValues
  }

  /** Span module -> self-time metric. */
  val SelfModules: Seq[(String, String)] = Seq(
    "op" -> "self.op_s", "graft.plans" -> "self.plans_s", "exec" -> "self.exec_s",
    "stage" -> "self.stage_s", "graft.streaming" -> "self.streaming_s",
    "graft.berlinmod" -> "self.berlinmod_s", "graft.sqlx" -> "self.sqlx_s",
    "graft.operators" -> "self.operators_s", "graft.functions" -> "self.functions_s",
    "datagen" -> "self.datagen_s", "setup" -> "self.setup_s")

  /** IVF cell and posting term-bucket layouts, by directory name. */
  def layoutKind(root: String): Option[String] = {
    val base = root.split('/').lastOption.getOrElse("")
    if (base.startsWith("ann_ivf")) Some("ivf")
    else if (base.startsWith("postings")) Some("postings")
    else None
  }
}

object Layout {
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** Data files under a layout root (a `file:` URI or a path). */
  def fileCount(root: String): Long = cache.computeIfAbsent(root, r => {
    val f = new java.io.File(new java.net.URI(if (r.startsWith("file:")) r else s"file:$r"))
    def walk(d: java.io.File): Long =
      Option(d.listFiles()).getOrElse(Array.empty).map { c =>
        if (c.isDirectory) walk(c)
        else if (c.getName.endsWith(".parquet")) 1L else 0L
      }.sum
    walk(f)
  })
}
