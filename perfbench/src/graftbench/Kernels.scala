package graftbench

import org.apache.spark.sql.types.{DataType, TimestampType}

import graft.functions.{MobCall, MobCodec, MobRuntime, MobVal}

/** Kernel-layer microbenchmarks for the traced `fleet` run: per-call
  * cost of `MobRuntime.eval` for the mobility functions the BerlinMOD
  * queries call, plus `MobCodec` decode/encode and `MobRuntime.retType`,
  * on argument values sampled from the loaded fleet's own views. */
object Kernels {

  /** function -> SQL producing a sample of its argument tuples */
  private val samples: Seq[(String, String)] = Seq(
    "tgeompoint" -> "SELECT st_point(PosX, PosY), t FROM TripsInput LIMIT 256",
    "tgeompointseq" ->
      """SELECT collect_list(tgeompoint(st_point(PosX, PosY), t))
         FROM TripsInput GROUP BY TripId ORDER BY TripId LIMIT 16""",
    "trajectory" -> "SELECT Trip FROM Trips ORDER BY TripId LIMIT 32",
    "to_stbox" -> "SELECT Trip FROM Trips ORDER BY TripId LIMIT 32",
    "atTime" ->
      """SELECT Trip, tstzspan(ttmin, timestamp_micros(
           (unix_micros(ttmin) + unix_micros(ttmax)) div 2))
         FROM Trips ORDER BY TripId LIMIT 32""",
    "valueAtTimestamp" ->
      """SELECT Trip, timestamp_micros((unix_micros(ttmin) + unix_micros(ttmax)) div 2)
         FROM Trips ORDER BY TripId LIMIT 32""",
    "st_intersects" ->
      """SELECT t.Traj, r.Geom FROM Trips t CROSS JOIN Regions1 r
         ORDER BY t.TripId, r.RegionId LIMIT 64""",
    "st_distance" ->
      """SELECT a.Traj, b.Traj FROM Trips a JOIN Trips b ON b.TripId = a.TripId + 1
         ORDER BY a.TripId LIMIT 32""",
    "st_collect" ->
      """SELECT collect_list(Traj) FROM Trips GROUP BY VehicleId
         ORDER BY VehicleId LIMIT 16""",
    "aDisjoint" ->
      """SELECT a.Trip, b.Trip FROM Trips a JOIN Trips b ON b.TripId = a.TripId + 1
         ORDER BY a.TripId LIMIT 32""",
    "astext" -> "SELECT Trip FROM Trips ORDER BY TripId LIMIT 32")

  def metricNames: Seq[String] =
    samples.map(s => s"functions.${s._1}.ns_per_call") ++
      Seq("functions.decode_ns", "functions.encode_ns", "functions.rettype_ns")

  /** Mean ns per call of `f` over `args`, cycling until ~`budgetMs`. */
  private def time[A](args: IndexedSeq[A], budgetMs: Long = 100)(f: A => Any): Double = {
    var sink = 0
    args.foreach(a => sink += f(a).##) // warm
    val deadline = System.nanoTime() + budgetMs * 1000000L
    val t0 = System.nanoTime()
    var calls = 0L
    while (System.nanoTime() < deadline) {
      var i = 0
      while (i < args.length) { sink += f(args(i)).##; i += 1 }
      calls += args.length
    }
    if (sink == 42) System.err.print("")
    (System.nanoTime() - t0).toDouble / calls
  }

  def run(b: Bench): Map[String, Double] = b.tracer("kernel microbenchmarks", "graft.functions") {
    val spark = b.spark
    val perFn = samples.map { case (fn, sql) =>
      b.tracer(s"kernel $fn", "graft.functions") {
        val df = spark.sql(sql)
        val types: Seq[DataType] = df.schema.fields.map(_.dataType).toSeq
        val rows = df.queryExecution.toRdd.map(_.copy()).collect().toIndexedSeq
        require(rows.nonEmpty, s"no sample arguments for $fn")
        val args = rows.map(r => types.indices.map(i =>
          MobCall.decodeArg(types(i), r.get(i, types(i)))).toIndexedSeq)
        val ns = time(args)(a => MobCall.encodeResult(MobRuntime.eval(fn, a)))
        s"functions.$fn.ns_per_call" -> ns
      }
    }
    val trips = spark.sql("SELECT Trip FROM Trips ORDER BY TripId LIMIT 32")
    val tripType = trips.schema.fields(0).dataType
    val raw = trips.queryExecution.toRdd.map(_.copy()).collect().toIndexedSeq
      .map(_.get(0, tripType))
    val decoded: IndexedSeq[MobVal] = raw.map(v => MobCodec.decode(tripType, v))
    val periodType = spark.sql("SELECT Period FROM Periods1 LIMIT 1").schema.fields(0).dataType
    val codec = b.tracer("kernel codec", "graft.functions") {
      Seq(
        "functions.decode_ns" -> time(raw)(v => MobCodec.decode(tripType, v)),
        "functions.encode_ns" -> time(decoded)(m => MobCodec.encode(m)),
        "functions.rettype_ns" -> time(IndexedSeq(
          "attime" -> Seq(tripType, periodType),
          "valueattimestamp" -> Seq(tripType, TimestampType),
          "trajectory" -> Seq(tripType), "to_stbox" -> Seq(tripType)))(
          x => MobRuntime.retType(x._1, x._2)))
    }
    (perFn ++ codec).toMap
  }
}
