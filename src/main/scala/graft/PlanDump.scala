package graft

import org.apache.spark.sql.execution.QueryExecution

/** Dump `.explain("formatted")` for every declared query to one file per
  * query — the optimization round's plan-evidence harness (guide §1:
  * capture the plan shape before/after each change; the judge checks plan
  * claims against these files). Untimed: building the DataFrame triggers
  * only driver-side work (plus the bounded collects some operators hold
  * by design), never the full computation.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> [nameFilter...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "plans/r14"
    val suffix = if (args.length > 2) args(2) else "_before"
    val only: Set[String] = args.drop(3).toSet
    val spark = graft.util.GraftSession()
    // layouts are load phase (same as the Bench warm-up)
    try {
      graft.operators.Similarity.buildLshLayout(spark, sfDir)
      graft.operators.Similarity.buildIvfLayout(spark, sfDir)
      graft.operators.Similarity.buildIvfPqLayout(spark, sfDir)
      graft.operators.Similarity.buildGraphLayout(spark, sfDir)
      graft.operators.Similarity.buildHnswLayout(spark, sfDir)
      graft.operators.Similarity.buildSq8Layout(spark, sfDir)
      graft.operators.Similarity.buildIvfSq8Layout(spark, sfDir)
      graft.operators.Retrieval.buildPostingLayout(spark, sfDir)
    } catch { case _: Throwable => () }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only(n))
      .filterNot(_ == "berlinmod_e2e") // composed workload, no single plan
    for (name <- names) {
      val res = try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val qe: QueryExecution = df.queryExecution
        qe.explainString(org.apache.spark.sql.execution.FormattedMode)
      } catch {
        case e: Throwable =>
          s"ERROR building plan: ${e.getClass.getName}: ${e.getMessage}"
      }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"$name$suffix.txt"), res)
      System.err.println(s"[plandump] $name")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
