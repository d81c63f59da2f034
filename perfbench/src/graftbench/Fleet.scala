package graftbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.berlinmod.BerlinMod
import graft.sqlx.MobSql

/** `fleet`: a mobility analyst's session over one BerlinMOD fleet.
  *
  * Set-up: `load` (BerlinMod's loader with the seed, query parameters
  * drawn from the trips), its cached views materialized, then a TRTREE
  * layout built through `MobSql.run` over a trips-with-`to_stbox(Trip)`
  * view. Each round: the 17 BerlinMOD
  * queries, seed-drawn `box && stbox(...)` window queries through
  * `MobSql.run`, one `MobSql.appendToLayout` batch and one
  * `compactLayout`. Appended trips are copies of base
  * trips moved a year or more past the base period, so the window
  * queries (all inside the base period) return the same rows every
  * round while still scanning the growing layout. */
object Fleet extends Workload {
  val name = "fleet"

  /** fleet shape: 30 vehicles of 9 to 14 trips, 20 to 80 points each
    * (~17k points); q5's st_distance over Licences1 x Licences2's
    * collected trajectories grows with the square of the points per
    * vehicle: about 5 s of a 22 s round on 4 cores at 30 to 120 points */
  val Vehicles = 30
  val TripsMin = 9
  val TripsMax = 14
  val PointsMin = 20
  val PointsMax = 80
  val Windows = 2
  /** may return no rows at some seeds: q6 and q10 need two vehicles
    * within 10 m and 3 m at the same time, q12 two vehicles at a query
    * point at the same query instant; every other op must return rows */
  val MayBeEmpty = Set("q6", "q10", "q12")
  val AppendTrips = 8
  private val DayUs = 86400000000L

  private var baseTrips = 0L
  private var tableRows = 0L
  private var lastTable = (0L, 0L)
  private var windowRows = Map.empty[String, Long]
  private var windows = Seq.empty[String]

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)
  private def ts(us: Long) = tsFmt.format(Instant.ofEpochMilli(us / 1000)) + "+00"

  /** `BerlinMod.load` with the bench's fleet shape, then the query
    * parameter views Instants1, Points1, Periods1 and Regions1 redrawn
    * from the fleet's own trips. The loader draws them over a 90-day,
    * 8 km square (its instants all in the first week); a fleet this
    * small almost never meets them, which leaves q3, q11 and q14 empty
    * and their `valueAtTimestamp` calls unreached. Here 10 seed-drawn
    * points of Licences1's trips each give an instant, the position at
    * that instant, a period of 2 to 24 hours around it and a hexagonal
    * region of radius 100 to 400 m around the position. Returns the
    * number of trips. */
  def load(s: SparkSession, seed: Long): Long = {
    val trips = BerlinMod.load(s, nVehicles = Vehicles, seed = seed, tripsMin = TripsMin,
      tripsMax = TripsMax, ptsMin = PointsMin, ptsMax = PointsMax)
    val drawn = s.sql(
      s"""SELECT row_number() OVER (ORDER BY h) AS Id, t, PosX, PosY, h
          FROM (SELECT t, PosX, PosY, xxhash64(TripId, t, ${seed}L) AS h
                FROM TripsInput
                WHERE VehicleId IN (SELECT VehicleId FROM Licences1)
                ORDER BY h LIMIT 10)""").collect().toSeq
    import s.implicits._
    def hours(h: Long, shift: Int) = (1 + java.lang.Math.floorMod(h >>> shift, 12L)) * 3600000L
    val rows = drawn.map { r =>
      val (t, x, y, h) = (r.getTimestamp(1), r.getDouble(2), r.getDouble(3), r.getLong(4))
      val radius = 100 + java.lang.Math.floorMod(h >>> 16, 300L)
      val hexagon = (0 to 6).map { k =>
        val a = 2 * math.Pi * k / 6
        s"${x + radius * math.cos(a)} ${y + radius * math.sin(a)}"
      }.mkString("Polygon((", ",", "))")
      (r.getInt(0), t, x, y, new java.sql.Timestamp(t.getTime - hours(h, 0)),
        new java.sql.Timestamp(t.getTime + hours(h, 8)), hexagon)
    }
    rows.toDF("Id", "Instant", "PosX", "PosY", "Tstart", "Tend", "Wkt")
      .createOrReplaceTempView("DrawnParams")
    s.sql("SELECT Id AS InstantId, Instant FROM DrawnParams")
      .createOrReplaceTempView("Instants1")
    s.sql("SELECT Id AS PointId, PosX, PosY, st_point(PosX, PosY) AS Geom FROM DrawnParams")
      .createOrReplaceTempView("Points1")
    s.sql("""SELECT Id AS PeriodId, Tstart, Tend, tstzspan(Tstart, Tend) AS Period
             FROM DrawnParams""").createOrReplaceTempView("Periods1")
    s.sql("""SELECT RegionId, Geom,
               b.xmin AS rxmin, b.xmax AS rxmax, b.ymin AS rymin, b.ymax AS rymax
             FROM (SELECT Id AS RegionId, st_geomfromtext(Wkt) AS Geom,
                     to_stbox(st_geomfromtext(Wkt)) AS b FROM DrawnParams)""")
      .createOrReplaceTempView("Regions1")
    trips
  }

  def setup(b: Bench, rep: Int): Unit = {
    val s = b.spark
    s.catalog.clearCache()
    val trips = b.step("berlinmod.generate_s", "graft.berlinmod")(load(s, b.seed))
    b.step("berlinmod.trips_s", "graft.berlinmod")(s.table("Trips").count())
    b.step("berlinmod.segments_s", "graft.berlinmod") {
      Seq("SegCells", "Segs", "SegTime").foreach(v => s.table(v).count())
    }
    b.setupValues("berlinmod.points") = s.table("TripsInput").count().toDouble
    b.setupValues("berlinmod.trips") = trips.toDouble
    b.setupValues("berlinmod.cached_mb") = s.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0
    s.sql("SELECT TripId, VehicleId, Trip, to_stbox(Trip) AS box FROM Trips")
      .createOrReplaceTempView("TripBoxes")
    b.step("sqlx.index_build_s", "graft.sqlx") {
      MobSql.run(s, "CREATE INDEX trips_box ON TripBoxes USING TRTREE(box)")
    }
    b.setupCheck(rep, "Trips", s.table("Trips"))
    b.setupCheck(rep, "TripBoxes", s.table("TripBoxes"))
    baseTrips = trips
    tableRows = trips
    // each window: 400 m and 10 days around one drawn point, so it
    // holds at least that point's trip
    windows = s.table("DrawnParams").orderBy("Id").collect().take(Windows).map { r =>
      val (x, y) = (r.getAs[Double]("PosX") - 200, r.getAs[Double]("PosY") - 200)
      val t = r.getAs[java.sql.Timestamp]("Instant").getTime * 1000 - 5 * DayUs
      f"SELECT TripId, VehicleId, box FROM TripBoxes WHERE box && " +
        f"stbox('STBOX XT((($x%.1f,$y%.1f),(${x + 400}%.1f,${y + 400}%.1f)),[${ts(t)}, ${ts(t + 10 * DayUs)}])')"
    }.toSeq
  }

  /** The append batch of round `r`: `AppendTrips` consecutive base trips
    * rebuilt from their points, shifted 365 + r days later. */
  private def appendBatch(s: SparkSession, seed: Long, r: Int): DataFrame = {
    val first = 1 + java.lang.Math.floorMod(mix(seed * 131 + r), baseTrips - AppendTrips)
    val shift = (365L + r) * DayUs
    s.sql(
      s"""SELECT TripId + ${1000000 * (r + 1)} AS TripId, VehicleId, Trip,
            to_stbox(Trip) AS box
          FROM (SELECT TripId, VehicleId,
                  tgeompointseq(collect_list(tgeompoint(st_point(PosX, PosY),
                    timestamp_micros(unix_micros(t) + ${shift}L)))) AS Trip
                FROM TripsInput
                WHERE TripId BETWEEN $first AND ${first + AppendTrips - 1}
                GROUP BY TripId, VehicleId)""")
  }

  def round(b: Bench, r: Int): Seq[Op] = {
    val s = b.spark
    // the 17 queries are parsed and analyzed together: round wall, no op
    val qs = b.tracer("analyze BerlinMOD queries", "graft.plans")(BerlinMod.queries(s))
    val queries = qs.map { case (n, df) => Op(n, n, () => df, mayBeEmpty = MayBeEmpty(n)) }
    val windowOps = windows.zipWithIndex.map { case (sql, i) =>
      Op(s"window$i", "window", () => {
        if (r == 1) windowRows += s"timed-1-window$i" -> tableRows
        MobSql.run(s, sql)
      })
    }
    val append = Op("append", "append", () => {
      MobSql.appendToLayout(s, "TripBoxes", appendBatch(s, b.seed, r))
      tableRows += AppendTrips
      s.table("TripBoxes").select("TripId")
    }, stable = false, check = (n, c) => {
      lastTable = (n, c)
      if (n != tableRows) Some(s"table holds $n trips, expected $tableRows") else None
    })
    val compact = Op("compact", "compact", () => {
      MobSql.compactLayout(s, "TripBoxes")
      s.table("TripBoxes").select("TripId")
    }, stable = false, check = (n, c) =>
      if ((n, c) != lastTable) Some(s"compaction changed the table: $lastTable -> ${(n, c)}")
      else None)
    queries ++ windowOps ++ Seq(append, compact)
  }

  def items(results: Seq[OpResult]): Double = results.size.toDouble

  val queryNames: Seq[String] = (1 to 17).map(i => s"q$i")

  def metricNames: Seq[String] =
    (queryNames ++ Seq("window", "append", "compact")).map(m => s"op.fleet.$m.s") ++
      Seq("sqlx.append_s", "sqlx.compact_s", "sqlx.tail_dirs_max",
        "sqlx.window_scan_ratio", "sqlx.index_build_s", "berlinmod.generate_s",
        "berlinmod.trips_s", "berlinmod.segments_s", "berlinmod.points",
        "berlinmod.trips", "berlinmod.cached_mb") ++ Kernels.metricNames

  /** Append tails bound to the layout before a compaction, read from
    * `DESCRIBE TRTREE` after one more append. */
  private def tailsMax(b: Bench): Double = {
    MobSql.appendToLayout(b.spark, "TripBoxes", appendBatch(b.spark, b.seed, 0))
    MobSql.run(b.spark, "DESCRIBE TRTREE TripBoxes").select("part").distinct()
      .collect().count(_.getString(0).startsWith("tail")).toDouble
  }

  def traced(b: Bench, timed: Seq[OpResult]): Map[String, Double] = {
    def med(m: String) = Stats.median(timed.filter(_.metric == m).map(_.wall))
    val scans = b.stages.scans.filter(sc => windowRows.contains(sc.group))
    scans.foreach(sc => b.log(s"${sc.group} scan ${sc.root}: ${sc.files} files, ${sc.rows} rows"))
    val scanRatio = scans.map(_.rows).sum.toDouble /
      math.max(1.0, windowRows.values.sum.toDouble)
    Map("sqlx.append_s" -> med("append"), "sqlx.compact_s" -> med("compact"),
      "sqlx.tail_dirs_max" -> tailsMax(b),
      "sqlx.window_scan_ratio" -> scanRatio) ++ Kernels.run(b)
  }
}
