package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point.
  *
  * Modes (first argument):
  *  - `run`: one workload run; prints `name value` metric lines and a
  *    final `RESULT {...}` line that `perfbench/run.py` turns into the
  *    benchmark's JSON result.
  *  - `selftest`: checks that the timed (checksum) form of every
  *    BerlinMOD query keeps every mobility call of the query's plan.
  *  - `oracle`: writes the corpus ops' results plus their DuckDB
  *    oracle SQL for `tools/check.py`.
  *
  * Options: --workload W --seed N --seconds S --trace 0|1
  * --work DIR --expected FILE --out DIR --conf key=value (repeatable). */
object Main {

  val workloads: Map[String, Workload] =
    Seq(Fleet, Corpus).map(w => w.name -> w).toMap

  def main(argv: Array[String]): Unit = {
    val mode = argv.headOption.getOrElse("run")
    val opts = mutable.Map[String, String]()
    val conf = mutable.ArrayBuffer[(String, String)]()
    argv.drop(1).grouped(2).foreach {
      case Array("--conf", kv) =>
        val i = kv.indexOf('=')
        conf += kv.take(i) -> kv.drop(i + 1)
      case Array(k, v) if k.startsWith("--") => opts(k.drop(2)) = v
      case other => sys.error(s"bad arguments: ${other.mkString(" ")}")
    }
    val seed = opts.getOrElse("seed", "42").toLong
    val work = opts.getOrElse("work", "work")
    new java.io.File(work).mkdirs()

    val tSession = System.nanoTime()
    val builder = SparkSession.builder()
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    // JVM start to a usable session: the part of set-up no workload owns
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    System.err.println(f"[perfbench] session ready in ${(System.nanoTime() - tSession) / 1e9}%.2f s")

    val code = try mode match {
      case "run" =>
        val w = workloads.getOrElse(opts("workload"),
          sys.error(s"unknown workload ${opts("workload")}"))
        val expected = Expected.load(opts.get("expected"), w.name, seed)
        Runner.run(spark, w, seed, opts("seconds").toDouble,
          opts.getOrElse("trace", "0") == "1", work, expected, sessionS)
      case "selftest" => SelfTest.run(spark, seed)
      case "oracle" => Oracle.dump(spark, seed, work, opts("out"))
      case other => sys.error(s"unknown mode $other")
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] ERROR: $e")
        e.printStackTrace()
        1
    }
    spark.stop()
    sys.exit(code)
  }
}

/** Expected (rows, checksum) per op for one workload and seed, from
  * `perfbench/expected.json`: {"<workload>": {"<seed>": {"<op>": [rows, checksum]}}}. */
object Expected {
  def load(path: Option[String], workload: String, seed: Long): Map[String, (Long, Long)] =
    path.filter(p => new java.io.File(p).exists()).map { p =>
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(p))
      val node = root.path(workload).path(seed.toString)
      import scala.jdk.CollectionConverters._
      node.properties().asScala.map { e =>
        e.getKey -> (e.getValue.get(0).asLong(), e.getValue.get(1).asLong())
      }.toMap
    }.getOrElse(Map.empty)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

object Stats {
  /** Linear-interpolation quantile (type 7), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val h = (s.length - 1) * q
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
