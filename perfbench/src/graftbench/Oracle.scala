package graftbench

import java.nio.file.{Files => JFiles, Paths}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Oracle dump for a corpus seed: generates the inputs and
  * layouts exactly as a benchmark set-up does, writes each op's result
  * as parquet under `out/<op>` with the op's DuckDB oracle SQL in
  * `out/oracle_sql.json` (the layout `tools/check.py` reads), and prints
  * each result's (rows, checksum) for comparison with expected.json. */
object Oracle {
  def dump(spark: SparkSession, seed: Long, work: String, out: String): Int = {
    val w = Corpus
    val b = new Bench(spark, seed, work, new Tracer(false), Map.empty)
    w.setup(b, 0)
    val dir = w.dataDir
    JFiles.createDirectories(Paths.get(out))
    w.ops.foreach { op =>
      val path = s"$out/$op"
      SparkEntry.queries(op)(spark, dir).coalesce(1).write.mode("overwrite").parquet(path)
      val (n, c, _) = Checksum.collect(Checksum.frame(spark.read.parquet(path)))
      println(s"CHECKSUM $op $n $c")
    }
    // after the ops ran: IVF-family oracles read the codebook an op stashed
    val oracles = SparkEntry.oracleSqlFor(Some(dir))
    val json = w.ops.filter(oracles.contains)
      .map(op => s"${Json.str(op)}: ${Json.str(oracles(op))}").mkString("{", ",\n", "}")
    JFiles.writeString(Paths.get(s"$out/oracle_sql.json"), json)
    w.ops.filterNot(oracles.contains).foreach(op => println(s"NO-ORACLE $op"))
    println(s"DATA $dir")
    0
  }
}
