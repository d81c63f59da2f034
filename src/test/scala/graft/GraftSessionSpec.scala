package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.FastRound
import graft.util.GraftSession

/** The session every harness main and spec builds through. */
class GraftSessionSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tzKey = "spark.sql.session.timeZone"

  override def beforeAll(): Unit = {
    // the test JVM also sets the time zone as a -D system property; clear
    // it while the session starts so the assertion sees the builder's own
    val tz = Option(System.clearProperty(tzKey))
    try spark = GraftSession(3)
    finally tz.foreach(System.setProperty(tzKey, _))
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("round(x, 6) on a double plans as FastRound: extensions are injected") {
    val out = spark.range(1, 100)
      .select(round(col("id") * 0.123456789, 6).as("r"))
    val plan = out.queryExecution.optimizedPlan
    assert(plan.expressions.exists(_.exists(_.isInstanceOf[FastRound])), plan)
  }

  test("session time zone is UTC and parquet nanos read as longs") {
    assert(spark.conf.get(tzKey) == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }

  test("shuffle partitions equal the cpus argument") {
    assert(spark.sparkContext.master == "local[3]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "3")
    assert(spark.range(100).repartition(col("id")).rdd.getNumPartitions == 3)
  }
}
