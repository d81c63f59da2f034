package graft.util

import org.apache.spark.sql.SparkSession

/** The engine's one Spark session: every harness main and spec builds
  * through here, so a setting lives in exactly one place. A caller adds
  * its own `.config` only for a setting no other caller needs.
  *
  * {{{
  * val spark = GraftSession()                  // cpus from the machine
  * val spark = GraftSession(4)                 // a spec's fixed local[4]
  * val spark = GraftSession.builder(cpus)      // plus a caller's own
  *   .config("spark.sql.shuffle.partitions", "128").getOrCreate()
  * }}}
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else the machine's processor count — not a
    * constant, which reads as a uniform slowdown of every CPU-heavy row
    * on a box with more cores. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .fold(Runtime.getRuntime.availableProcessors)(_.trim.toInt)

  def builder(cpus: Int = defaultCpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "ERROR")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet has shipped as TIMESTAMP(NANOS), NTZ micros and
      // UTC micros; nanosAsLong keeps the nanos encoding readable and
      // Tables.events normalizes every encoding to TimestampType
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // the driver tables are single small parquet files; split them
      // finer so scans parallelize across all local cores
      .config("spark.sql.files.maxPartitionBytes", "1m")
      // AQE coalescing targets bytes per partition; the temporal/pair
      // stages are compute-heavy on byte-tiny rows, so coalescing to one
      // partition serializes them — keep the requested parallelism
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // zstd shuffle/spill compression halves the live shuffle of the
      // repetitive token/hash payloads against lz4; rdd.compress applies
      // it to the serialized phase checkpoints too (Dedup.ckptDisk)
      .config("spark.io.compression.codec", "zstd")
      .config("spark.rdd.compress", "true")
      // shuffle files go only when their dependency is GC'd; a large
      // heap may not GC for a whole run, so let the ContextCleaner force
      // one often enough to reclaim released lineage mid-query
      .config("spark.cleaner.periodicGC.interval", "30s")

  def apply(cpus: Int = defaultCpus): SparkSession = builder(cpus).getOrCreate()
}
