package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

import graft.berlinmod.BerlinMod
import graft.functions.MobCall

/** Count-pruning self-test: for each BerlinMOD query, the optimized
  * plan of the benchmark's timed (checksum) form must keep every
  * `MobCall` of the query's own optimized plan. The `count()` form is
  * reported beside it; at least one query must lose a call under
  * `count()`, which shows the test can tell the two apart. */
object SelfTest {

  def calls(plan: LogicalPlan): Seq[String] =
    plan.collectWithSubqueries { case p =>
      p.expressions.flatMap(_.collect { case m: MobCall => m.fname })
    }.flatten.sorted

  def run(spark: SparkSession, seed: Long): Int = {
    Fleet.load(spark, seed)
    val res = BerlinMod.queries(spark).map { case (n, df) =>
      val own = calls(df.queryExecution.optimizedPlan)
      val lost = own diff calls(Checksum.frame(df).queryExecution.optimizedPlan)
      val countLost = own diff calls(df.groupBy().count().queryExecution.optimizedPlan)
      println(f"# $n%-4s calls: ${own.distinct.mkString(",")}%-60s timed form loses: " +
        s"${if (lost.isEmpty) "none" else lost.mkString(",")}; count() loses: " +
        s"${if (countLost.isEmpty) "none" else countLost.distinct.mkString(",")}")
      (n, lost, countLost)
    }
    val failed = res.filter(_._2.nonEmpty).map(_._1)
    val sensitive = res.exists(_._3.nonEmpty)
    if (!sensitive) println("# FAILED: no query loses a call under count(); the test cannot tell")
    failed.foreach(n => println(s"# FAILED: the timed form of $n loses a mobility call"))
    println(s"# selftest ${if (failed.isEmpty && sensitive) "passed" else "FAILED"}: " +
      s"${res.size} queries, ${res.count(_._3.nonEmpty)} lose calls under count()")
    if (failed.isEmpty && sensitive) 0 else 1
  }
}
