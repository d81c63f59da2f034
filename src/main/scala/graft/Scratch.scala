package graft

/** Ad-hoc profiling entry (not part of the driver contract). */
object Scratch {
  def main(args: Array[String]): Unit = {
    if (sys.env.contains("SCRATCH_PRETOUCH")) {
      val t0 = System.nanoTime()
      graft.util.HeapWarm.pretouch()
      println(f"[scratch] pretouch ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    val spark = graft.util.GraftSession()
    val d = sys.env.getOrElse("SCRATCH_SF_DIR", "/root/testdata/sf0.1")
    // SCRATCH_JOBS=1: print every job's wall/tasks — attributes a
    // query's wall to its driver-scheduled job sequence (round loops,
    // checkpoints, bounded collects) vs real stage compute
    if (sys.env.contains("SCRATCH_JOBS"))
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          private val t0 = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
          private val nt = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
          private val jobOfStage =
            new java.util.concurrent.ConcurrentHashMap[Int, Int]()
          // per-stage task durations (ms) — straggler/skew forensics
          private val taskMs = new java.util.concurrent.ConcurrentHashMap[
            Int, java.util.concurrent.ConcurrentLinkedQueue[Long]]()
          // per-stage earliest-launch/latest-finish (epoch ms): separates
          // "tasks ran slowly" from "tasks were launched late"
          private val launch0 = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
          private val finishN = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            t0.put(j.jobId, System.nanoTime())
            j.stageIds.foreach(sid => jobOfStage.put(sid, j.jobId))
          }
          override def onTaskEnd(
              t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
            val jid = jobOfStage.getOrDefault(t.stageId, -1)
            nt.merge(jid, 1, (a, b) => a + b)
            if (t.taskInfo != null) {
              taskMs.computeIfAbsent(t.stageId,
                _ => new java.util.concurrent.ConcurrentLinkedQueue[Long]())
                .add(t.taskInfo.duration)
              launch0.merge(t.stageId, t.taskInfo.launchTime, math.min)
              finishN.merge(t.stageId, t.taskInfo.finishTime, math.max)
            }
          }
          override def onJobEnd(
              j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val dt = (System.nanoTime() -
              t0.getOrDefault(j.jobId, System.nanoTime())) / 1e6
            println(f"[job] id=${j.jobId}%4d ${dt}%9.1f ms tasks=${
              nt.getOrDefault(j.jobId, 0)}%4d")
          }
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted)
              : Unit = {
            val si = sc.stageInfo
            val tm = si.taskMetrics
            if (tm != null)
              println(f"[stage] id=${si.stageId}%4d job=${
                jobOfStage.getOrDefault(si.stageId, -1)}%4d tasks=${
                si.numTasks}%4d cpu=${tm.executorCpuTime / 1e9}%8.2f s run=${
                tm.executorRunTime / 1e3}%8.2f s shW=${
                tm.shuffleWriteMetrics.bytesWritten / 1e6}%9.1f MB shR=${
                tm.shuffleReadMetrics.totalBytesRead / 1e6}%9.1f MB spill=${
                tm.diskBytesSpilled / 1e6}%8.1f MB  ${si.name.take(60)}")
            val q = taskMs.get(si.stageId)
            if (q != null && !q.isEmpty) {
              import scala.jdk.CollectionConverters._
              val ds = q.asScala.toArray.sorted
              val span = finishN.getOrDefault(si.stageId, 0L) -
                launch0.getOrDefault(si.stageId, Long.MaxValue)
              println(f"[tasks] id=${si.stageId}%4d n=${ds.length}%5d " +
                f"p50=${ds(ds.length / 2)}%6d ms p90=${
                  ds(ds.length * 9 / 10)}%6d ms max=${ds.last}%7d ms " +
                f"span=${span}%7d ms")
            }
          }
        })
    def time(tag: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[scratch] $tag%-24s ${(System.nanoTime() - t0) / 1e9}%8.3f s  rows=$n")
      spark.catalog.clearCache()
      System.gc()
    }
    val only = sys.env.get("SCRATCH_ONLY").map(_.split(",").toSet)
    val reps = sys.env.getOrElse("SCRATCH_REPS", "1").toInt
    for {
      _ <- 1 to reps
      (name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
      if name != "berlinmod_e2e" && only.forall(_.contains(name))
    } time(name) { fn(spark, d).count() }
    spark.stop()
  }
}
