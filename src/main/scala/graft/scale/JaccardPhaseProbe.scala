package graft.scale

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Phase-attributed profiling of the exact-Jaccard pipeline at a synth
  * decade — answers "WHICH stage owns the spill" with per-phase task
  * metrics, where the per-query numbers of [[PipelineScaleProbe]] only
  * bound the total. Replays the same logical phases as
  * [[graft.operators.Dedup.jaccard]] (shingles → df-ranked prefix →
  * PPJoin+ candidates → verify) with a jobGroup label per phase.
  *
  * `runMain graft.scale.JaccardPhaseProbe <dir>` prints one JSON line.
  */
object JaccardPhaseProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/tmp/graft_synth_1000x"
    graft.util.HeapWarm.pretouch()
    val cpus = graft.util.GraftSession.defaultCpus
    // the decade rule at the 1000x dirs this probe profiles
    val spark = graft.util.GraftSession.builder(cpus)
      .config("spark.sql.shuffle.partitions",
        PipelineScaleProbe.decadePartitions(cpus, 1000).toString)
      .getOrCreate()
    graft.functions.GraftFunctions.register(spark)
    val metrics = new graft.util.BenchMetricsListener
    spark.sparkContext.addSparkListener(metrics)
    // per-STAGE spill attribution (stderr): phase totals alone can't
    // say whether a spill lives in a map-side shuffle write, a reduce
    // sort, or an aggregate — stage names + callsites can
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val tm = si.taskMetrics
          if (tm != null && (tm.memoryBytesSpilled > 0 ||
              tm.diskBytesSpilled > (64L << 20)))
            System.err.println(
              f"[stage] id=${si.stageId}%4d tasks=${si.numTasks}%4d " +
                f"spillM=${tm.memoryBytesSpilled / 1e9}%7.2fG " +
                f"spillD=${tm.diskBytesSpilled / 1e9}%6.2fG " +
                f"shufW=${tm.shuffleWriteMetrics.bytesWritten / 1e9}%6.2fG " +
                f"shufR=${tm.shuffleReadMetrics.totalBytesRead / 1e9}%6.2fG " +
                si.name.take(60))
        }
      })
    val out = scala.collection.mutable.ArrayBuffer[String]()
    def phase(tag: String)(f: => Long): Unit = {
      metrics.reset(tag)
      spark.sparkContext.setJobGroup(tag, tag, interruptOnCancel = false)
      val t0 = System.nanoTime()
      val n = f
      val sec = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.clearJobGroup()
      System.err.println(f"[jacprof] $tag%-14s $sec%8.1f s rows=$n")
      out += f""""$tag":{"sec":${math.rint(sec * 10) / 10},"rows":$n}"""
    }
    val minJ = 0.5
    val eqJ = minJ / (1 + minJ)
    val cParts = graft.operators.Dedup.corpusParts(spark, dir)
    val pParts = math.max(spark.sessionState.conf.numShufflePartitions,
      cParts * 4)

    // p1: shingle table (h-repartitioned distinct) — the corpus base
    val sh = graft.operators.Dedup.shingleHashes(spark, dir, cParts).persist()
    phase("p1_shingles") { sh.count() }

    // p2: df join + pre-sorted streaming-window rank + prefix filter
    // (checkpointed, as the operator does past its size gate)
    val dfreq = sh.groupBy("h").agg(count(lit(1)).as("df"))
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    val prefix0 = sh.join(dfreq, "h")
      .repartition(cParts, col("doc_id"))
      .sortWithinPartitions("doc_id", "df", "h")
      .select(col("doc_id"), col("h"),
        row_number().over(byDoc.orderBy("df", "h")).as("rank"),
        count(lit(1)).over(byDoc).cast("int").as("sz"))
      .filter(col("rank") <= col("sz") - ceil(col("sz") * minJ) + 1)
    var prefix: DataFrame = null
    phase("p2_rank_prefix") {
      prefix = prefix0.localCheckpoint(eager = true,
        storageLevel = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      prefix.count()
    }

    // p3: candidate self-join + pair-co-located PPJoin+ bound aggregate
    val cand0 = prefix.as("a")
      .join(prefix.as("b"), col("a.h") === col("b.h") &&
        col("a.doc_id") < col("b.doc_id") &&
        least(col("a.sz"), col("b.sz")) >=
          ceil(greatest(col("a.sz"), col("b.sz")) * minJ) &&
        least(col("a.sz") - col("a.rank"), col("b.sz") - col("b.rank")) + 1 >=
          ceil(greatest(col("a.sz"), col("b.sz")) * minJ))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.sz").as("sza"), col("b.sz").as("szb"),
        col("a.rank").as("ra"), col("b.rank").as("rb"))
      .transform { collisions =>
        val byPair = org.apache.spark.sql.expressions.Window
          .partitionBy("id_a", "id_b")
        collisions
          .repartition(pParts, col("id_a"), col("id_b"))
          .sortWithinPartitions("id_a", "id_b", "ra")
          .select(col("id_a"), col("id_b"), col("sza"), col("szb"),
            count(lit(1)).over(byPair).as("o"),
            max("ra").over(byPair).as("mra"),
            max("rb").over(byPair).as("mrb"),
            row_number().over(byPair.orderBy("ra")).as("rn"))
      }
      .filter(col("rn") === 1 && col("o") +
        least(col("sza") - col("mra"), col("szb") - col("mrb")) >=
        ceil((col("sza") + col("szb")) * eqJ - 1e-9))
      .select("id_a", "id_b")
    var cand: DataFrame = null
    phase("p3_candidates") {
      cand = cand0.localCheckpoint(eager = true,
        storageLevel = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      cand.count()
    }

    // p3b: the same collision stream COUNTED (no repartition, no pair
    // agg) — isolates the join's own cost/volume from the aggregate's
    val collisions = prefix.as("a")
      .join(prefix.as("b"), col("a.h") === col("b.h") &&
        col("a.doc_id") < col("b.doc_id") &&
        least(col("a.sz"), col("b.sz")) >=
          ceil(greatest(col("a.sz"), col("b.sz")) * minJ) &&
        least(col("a.sz") - col("a.rank"), col("b.sz") - col("b.rank")) + 1 >=
          ceil(greatest(col("a.sz"), col("b.sz")) * minJ))
    phase("p3b_join_only") { collisions.count() }

    // p4: verify (candidate-pruned array build + two joins + kernel)
    val candIds = cand.select(col("id_a").as("doc_id"))
      .union(cand.select(col("id_b").as("doc_id"))).distinct()
    val sets = sh.join(broadcast(candIds), "doc_id")
      .repartition(col("doc_id"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list("h")).as("shs"), count(lit(1)).as("sz"))
    val verified = cand
      .join(sets.select(col("doc_id").as("id_a"), col("shs").as("sha"),
        col("sz").as("sza")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("shs").as("shb"),
        col("sz").as("szb")), "id_b")
      .withColumn("i", call_function("vec_inter_sorted", col("sha"), col("shb")))
      .withColumn("j", col("i") / (col("sza") + col("szb") - col("i")))
      .filter(col("j") >= minJ)
    phase("p4_verify") { verified.count() }

    Thread.sleep(500)
    println(s"""{"dir":"$dir",${out.mkString(",")},""" +
      s""""task_metrics":${metrics.snapshotJson}}""")
    spark.stop()
  }
}
