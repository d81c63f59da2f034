package graft.berlinmod

/** Scale-curve probe for the trip-pair queries: loads BerlinMOD at a
  * given fleet multiplier (1x = the reference's brussels scale, 141
  * vehicles) and times q6/q10/q16/q17 — the four queries whose cost
  * follows local density. Used to pin the (hour, cell) key's growth
  * story outside the full bench (`runMain graft.berlinmod.BmScaleProbe
  * 10` prints one JSON line). */
object BmScaleProbe {
  def main(args: Array[String]): Unit = {
    val mult = if (args.nonEmpty) args(0).toInt else 10
    val passes = if (args.length > 1) args(1).toInt else 2
    graft.util.HeapWarm.pretouch()
    val spark = graft.util.GraftSession()
    val tL0 = System.nanoTime()
    BerlinMod.load(spark, nVehicles = 141 * mult,
      tripsMin = 9, tripsMax = 14, ptsMin = 30, ptsMax = 120)
    spark.sql("SELECT * FROM Trips").count()
    spark.sql("SELECT * FROM SegCells").count()
    val nSegTime = spark.sql("SELECT * FROM SegTime").count()
    val loadSec = (System.nanoTime() - tL0) / 1e9
    // q5/q12 joined the wanted set in r11 (r10 verdict #4): they are the
    // reference's two slowest published queries (389 s / 266 s brussels,
    // BASELINE.md) and previously had no decade evidence. q5 is
    // licence-view-bounded (10x10 pairs of collected multipoints — cost
    // grows with points per licence, not fleet^2); q12 is an equi-join
    // on (PointId, InstantId) whose candidate mass follows the
    // bbox-hit count (~linear in fleet at fixed area).
    val wanted = Set("q5", "q6", "q10", "q12", "q16", "q17")
    val times = (for (_ <- 1 to passes) yield {
      BerlinMod.queries(spark).filter(p => wanted(p._1)).map { case (n, df) =>
        val t0 = System.nanoTime()
        df.count()
        n -> (System.nanoTime() - t0) / 1e9
      }
    }).flatten.groupBy(_._1).map { case (n, xs) =>
      n -> xs.map(_._2).min
    }
    val qs = times.toSeq.sortBy(_._1)
      .map { case (n, t) => s""""$n":${math.rint(t * 1000) / 1000}""" }
      .mkString(",")
    println(s"""{"mult":$mult,"segtime_rows":$nSegTime,""" +
      s""""load_sec":${math.rint(loadSec * 10) / 10},$qs}""")
    spark.stop()
  }
}
