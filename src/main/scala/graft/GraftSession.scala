package graft

import org.apache.spark.sql.SparkSession

/** The one session recipe every main and the specs build on: `local[cpus]`
  * with as many shuffle partitions, UTC session time, zstd parquet,
  * tz-naive parquet timestamps read as TimestampType (the
  * `SparkEntry.t()` normalization), no UI, ERROR logging, and the
  * native vector expressions registered. */
object GraftSession {
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.NativeVectorExprs.register(spark)
    spark
  }

  /** `SPARK_GRAFT_CPUS`, else every core of the machine. */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)
}
