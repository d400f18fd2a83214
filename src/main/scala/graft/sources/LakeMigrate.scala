package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One-shot migration of a reference-layout minute lake (one file per
  * symbol-hour under `symbol=/year=/month=/day=/hour=`,
  * `writer/atomic.py:99-111`) to the day-wide layout ([[LakeLayout]]),
  * the only layout the engine reads — the adoption path for an
  * existing deployment (SURVEY §8.15/§8.16).
  *
  * One partition-discovery read of the whole source lake (symbol comes
  * back as the partition column) feeds ONE `writeDaysWide` bulk write — a
  * single Spark job pair regardless of width or depth; no per-symbol
  * or per-partition driver loop. The HTF tree is NOT migrated:
  * re-running `AggregatorRunner.runBackfillAll` against the migrated
  * minute lake re-derives it under the new layout from scratch, which
  * is cheaper than moving it (backfill at width 10k: 27.9 s measured)
  * and re-validates the aggregation on the way.
  *
  * Validation is built in: total row count and per-symbol
  * (count, min/max timestamp, sum(open)) fingerprints are compared
  * across source (the same partition-discovery read) and destination
  * (the day-wide reader) in one aggregation each; any difference fails
  * the migration before the caller switches readers.
  */
object LakeMigrate {

  final case class MigrationReport(rows: Long, symbols: Long,
                                   parityOk: Boolean, mismatches: Long)

  def hourlyToDayWide(spark: SparkSession, srcRoot: String, dstRoot: String,
                      filesPerDay: Int = 32): MigrationReport = {
    val srcDir = s"$srcRoot/futures/um/minute"
    val src = spark.read.parquet(srcDir)
      .drop("year", "month", "day", "hour") // re-derived from timestamp

    val writer = new MinuteLakeWriter(dstRoot,
      new PartitionLedger(s"$dstRoot/_state"), LakeLayout.DayWide(filesPerDay))
    writer.writeDaysWide(src)

    // parity: per-symbol fingerprints, one aggregation per side
    def fp(rows: DataFrame) =
      rows.groupBy("symbol")
        .agg(count(lit(1)).as("n"),
          min("timestamp").as("mn"), max("timestamp").as("mx"),
          sum("open").as("s"))
    val joined = fp(src).alias("a")
      .join(fp(new MinuteLakeReader(dstRoot).scanAllSymbols(spark).get).alias("b"),
        Seq("symbol"), "full_outer")
    // RELATIVE tolerance on the double sum: summation order differs
    // between the two sides' partitionings, and at production scale a
    // per-symbol sum(open) is ~1e7–1e9, where reordering error routinely
    // exceeds any absolute epsilon — an absolute 1e-6 would flag a
    // byte-identical migration as failed (ADVICE r13)
    val sumsClose = abs(col("a.s") - col("b.s")) <=
      lit(1e-9) * greatest(abs(col("a.s")), abs(col("b.s")), lit(1.0))
    val m = joined.agg(
      sum(when(col("a.n") === col("b.n") && col("a.mn") === col("b.mn") &&
        col("a.mx") === col("b.mx") && sumsClose, 0L).otherwise(1L)).as("mism"),
      sum(coalesce(col("b.n"), lit(0L))).as("rows"),
      count(lit(1)).as("symbols")).collect()(0)
    val mismatches = if (m.isNullAt(0)) 0L else m.getLong(0)
    MigrationReport(m.getLong(1), m.getLong(2), mismatches == 0L, mismatches)
  }
}
