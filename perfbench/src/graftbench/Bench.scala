package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed operation. `build` returns the op's result frame (running
  * any eager work the op does, e.g. a write); the bench times planning
  * and executing its checksum form, which also counts the distinct
  * values of `queryCol`, the queries answered. `stable` ops must return
  * the same (rows, checksum) every round; `check` adds an op-specific
  * test. An op returning no rows fails unless it `mayBeEmpty`. */
final case class Op(name: String, metric: String, build: () => DataFrame,
                    stable: Boolean = true,
                    check: (Long, Long) => Option[String] = (_, _) => None,
                    queryCol: Option[String] = None,
                    mayBeEmpty: Boolean = false)

final case class OpResult(name: String, metric: String, round: Int,
                          rows: Long, checksum: Long, answered: Long, wall: Double,
                          plan: Double, exec: Double, error: Option[String],
                          group: String, startMs: Long, endMs: Long)

/** A workload: a set-up that can be repeated from scratch, then rounds
  * of ops issued by one closed-loop client. */
trait Workload {
  def name: String
  /** One complete set-up from nothing: generation, load, builds. */
  def setup(b: Bench, rep: Int): Unit
  def round(b: Bench, r: Int): Seq[Op]
  /** Units of work the timed ops completed: queries, documents or
    * searches, depending on the workload. */
  def items(results: Seq[OpResult]): Double
  /** Names of this workload's own per-layer metrics; a traced run of
    * another workload reports them as 0. */
  def metricNames: Seq[String]
  /** This workload's per-layer metrics of a traced run. */
  def traced(b: Bench, timed: Seq[OpResult]): Map[String, Double]
}

/** The benchmark runtime shared by all workloads: op timing, result
  * checking, set-up timing and (in traced runs) the listeners. */
final class Bench(val spark: SparkSession, val seed: Long, val workDir: String,
                  val tracer: Tracer,
                  val expected: Map[String, (Long, Long)]) {
  val traced: Boolean = tracer.on
  private val halves = new Halves
  val stages = new StageListener(tracer, halves)
  val streams = new StreamListener(tracer, halves)
  if (traced) {
    spark.sparkContext.addSparkListener(stages)
    spark.streams.addListener(streams)
  }

  private val reference = mutable.Map[String, (Long, Long)]()
  val failures = ArrayBuffer[String]()
  /** per-layer set-up timings, one value per repetition */
  val setupTimes = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  /** per-layer set-up values that are not times (last repetition wins) */
  val setupValues = mutable.LinkedHashMap[String, Double]()

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Time one set-up step; a step that throws fails the run. */
  def step[T](metric: String, module: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = try tracer(metric, module)(body) catch {
      case e: Throwable =>
        throw new IllegalStateException(s"set-up step $metric failed: $e", e)
    }
    setupTimes.getOrElseUpdate(metric, ArrayBuffer()) += (System.nanoTime() - t0) / 1e9
    r
  }

  /** (rows, checksum) of set-up outputs per repetition: every
    * repetition builds from scratch, so each must match the first. */
  private val setupSums = mutable.Map[String, (Long, Long)]()
  var setupChecks = 0

  def setupCheck(rep: Int, what: String, df: DataFrame): Unit = {
    val (n, sum, _) = Checksum.collect(Checksum.frame(df))
    val got = (n, sum)
    setupChecks += 1
    setupSums.get(what) match {
      case None => setupSums(what) = got
      case Some(first) if first != got =>
        failures += s"set-up $what rep $rep: rows=${got._1} checksum=${got._2}, " +
          s"first repetition rows=${first._1} checksum=${first._2}"
        log(s"FAILED ${failures.last}")
      case _ => ()
    }
  }

  /** Drain Spark's listener bus so traced counters are complete. */
  def drain(): Unit = if (traced) org.apache.spark.sql.BenchBridge.drain(spark.sparkContext)

  def run(op: Op, round: Int, phase: String): OpResult = {
    val sc = spark.sparkContext
    val group = s"$phase-$round-${op.name}"
    def half[T](name: String, module: String)(body: => T): T =
      tracer(s"${op.name} $name", module) {
        halves.open(group, tracer.current)
        body
      }
    sc.setJobGroup(group, op.name, interruptOnCancel = false)
    streams.group = group
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = 0L
    var out = (-1L, 0L)
    var answered = 0L
    val err = try tracer(op.name, "op") {
      val timed = half("plan", "graft.plans") {
        val t = Checksum.frame(op.build(), op.queryCol)
        t.queryExecution.executedPlan
        t
      }
      t1 = System.nanoTime()
      val (n, sum, q) = half("exec", "exec")(Checksum.collect(timed))
      out = (n, sum)
      answered = q
      verify(op, out)
    } catch {
      case e: Throwable =>
        Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    } finally sc.clearJobGroup()
    val t2 = System.nanoTime()
    if (t1 == 0L) t1 = t2
    log(f"${op.name}%-20s round $round%3d ${(t2 - t0) / 1e9}%8.3f s (plan ${(t1 - t0) / 1e9}%.3f) rows=${out._1}")
    err.foreach { e =>
      failures += s"${op.name} round $round: $e"
      log(s"FAILED ${op.name} round $round: $e")
    }
    OpResult(op.name, op.metric, round, out._1, out._2, answered, (t2 - t0) / 1e9,
      (t1 - t0) / 1e9, (t2 - t1) / 1e9, err, group, startMs,
      System.currentTimeMillis())
  }

  private def verify(op: Op, got: (Long, Long)): Option[String] = {
    def show(x: (Long, Long)) = s"rows=${x._1} checksum=${x._2}"
    val pinned = if (op.stable) expected.get(op.name) else None
    val seen = if (op.stable) reference.get(op.name) else None
    if (op.stable && seen.isEmpty) reference(op.name) = got
    pinned.filter(_ != got).map(e => s"expected ${show(e)} for seed $seed, got ${show(got)}")
      .orElse(seen.filter(_ != got).map(e => s"first round gave ${show(e)}, now ${show(got)}"))
      .orElse(op.check(got._1, got._2))
      .orElse(if (got._1 == 0 && !op.mayBeEmpty) Some("returned no rows") else None)
  }

  /** (rows, checksum) of every stable op as first observed. */
  def observed: Map[String, (Long, Long)] = reference.toMap
}
