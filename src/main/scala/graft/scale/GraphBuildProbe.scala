package graft.scale

/** Build-only probe for the scaled navigable-graph constructions —
  * isolates the EDGE BUILD (the corpus-shaped exchange the r13 verdict
  * targets) from the search walk the gate entries also time, so the
  * exact-vs-SQ8 shuffle-byte comparison reads off two clean rows.
  *
  * `runMain graft.scale.GraphBuildProbe <mult> [exact,sq8]` — generates
  * (or reuses) the synth corpus at `mult`x and times each selected
  * build's undirected edge materialization under its own job group,
  * printing one JSON line with wall seconds, edge rows, and the
  * per-build task metrics (shuffle/spill/cpu). */
object GraphBuildProbe {
  def main(args: Array[String]): Unit = {
    val mult = if (args.nonEmpty) args(0).toInt else 10
    val which: Set[String] =
      if (args.length > 1) args(1).split(",").toSet else Set("exact", "sq8")
    graft.util.HeapWarm.pretouch()
    val cpus = graft.util.GraftSession.defaultCpus
    // the PipelineScaleProbe decade rule, one step further at the fourth
    // decade: 4x partitions put ~85 MB of shuffle in each task's sorter
    // at 20M vectors and spilled ~2 GB; 8x returns per-task working sets
    // to memory (measured both ways in tools/gbuild_r14.json)
    val spark = PipelineScaleProbe.decadeSession(cpus,
      if (mult >= 400) cpus * 8
      else PipelineScaleProbe.decadePartitions(cpus, mult))
    val dir = s"/tmp/graft_synth_${mult}x"
    // the builds read only embeddings — don't write a 400x lineitem
    SynthCorpus.generateEmbeddings(spark, mult, dir)
    val metrics = new graft.util.BenchMetricsListener
    spark.sparkContext.addSparkListener(metrics)
    val builds: Seq[(String, () => Long)] = Seq(
      "graph_build_exact" ->
        (() => graft.operators.Similarity.graphEdgesScaled(spark, dir).count()),
      "graph_build_sq8" ->
        (() => graft.operators.Similarity.graphEdgesScaledSq8(spark, dir).count())
    ).filter { case (n, _) =>
      (n.endsWith("exact") && which("exact")) ||
        (n.endsWith("sq8") && which("sq8"))
    }
    val rows = builds.map { case (name, run) =>
      metrics.reset(name)
      spark.sparkContext.setJobGroup(name, name, interruptOnCancel = false)
      System.err.println(s"[gbuild] $name start")
      val t0 = System.nanoTime()
      val n = run()
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[gbuild] $name $sec%.1f s ($n edges)")
      spark.sparkContext.clearJobGroup()
      spark.catalog.clearCache()
      System.gc()
      (name, sec, n)
    }
    Thread.sleep(500)
    val qs = rows.map { case (n, t, e) =>
      s""""$n":{"sec":${math.rint(t * 1000) / 1000},"edges":$e}"""
    }.mkString(",")
    println(s"""{"mult":$mult,"vecs":${50000L * mult},$qs,""" +
      s""""task_metrics":${metrics.snapshotJson}}""")
    spark.stop()
  }
}
