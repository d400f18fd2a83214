package graft.tools

import java.time.Instant
import java.time.temporal.ChronoUnit

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.service.QueryService
import graft.sources.{LakeLayout, MinuteLakeReader, MinuteLakeWriter, PartitionLedger}

/** Read-request latency vs lake DEPTH under the day-wide layout — the
  * probe that prices the layout's one documented read-side trade
  * (partition-pruning floor = a day; the whole-lake file listing is
  * O(depth × filesPerDay) instead of O(symbol-subtree)).
  *
  * Builds day-wide lakes of fixed width and growing depth, and per
  * depth times: the SERVICE request path
  * (`QueryService.candleBars`, 15m × 12 bars ending at the lake head)
  * and `inspectRange`, median of 5; then a REPAIR tick (re-ingest the
  * deepest existing day, merge=true — exercises the touched-day merge
  * read) and an APPEND tick (a new day, pure bulk write). Every leg
  * must come out depth-flat (measured flat 30 d → 3,650 d, SURVEY
  * §8.16); a regression here means an O(depth) listing crept back into
  * a bounded path.
  *
  * Run: `sbt "runMain graft.tools.WideDepthProbe [width] [depthsCsv]"`
  * (defaults 100 / 30,120,365). */
object WideDepthProbe {

  private val End = Instant.parse("2026-01-15T00:00:00Z") // lake head (exclusive)

  private def dayFrame(spark: SparkSession, nSymbols: Int, days: Int,
                       endAt: Instant = End) = {
    val minutes = days * 24 * 60
    val start = endAt.minus(days.toLong, ChronoUnit.DAYS)
    val base = spark.range(nSymbols.toLong)
      .selectExpr("format_string('SYM%04d', id) AS symbol")
      .crossJoin(spark.range(minutes.toLong).select(
        (lit(start.toEpochMilli) + col("id") * 60000L).as("ms"),
        (col("id") % 50).cast("double").as("step")))
      .select(col("symbol"), timestamp_millis(col("ms")).as("timestamp"),
        (lit(100.0) + col("step")).as("open"),
        (lit(101.0) + col("step")).as("high"),
        (lit(99.0) + col("step")).as("low"),
        (lit(100.5) + col("step")).as("close"),
        lit(1.2).as("volume_btc"), lit(120000.0).as("volume_usdt"),
        lit(10L).as("trade_count"),
        (lit(100.1) + col("step")).as("mark_price_open"),
        (lit(100.4) + col("step")).as("mark_price_close"),
        (lit(100.0) + col("step")).as("index_price_open"),
        (lit(100.2) + col("step")).as("index_price_close"))
    graft.schema.CanonicalSchema.columns.foldLeft(base) { (df, c) =>
      if (df.columns.contains(c.name)) df.withColumn(c.name, col(c.name).cast(c.sparkType))
      else df.withColumn(c.name, lit(null).cast(c.sparkType))
    }
  }

  private def medianRequest(spark: SparkSession, root: String): (Double, Double) = {
    val reader = new MinuteLakeReader(root)
    val end = End.minus(1, ChronoUnit.MINUTES)
    val start = end.minus(12L * 15, ChronoUnit.MINUTES)
    def one(): (Double, Double) = {
      val t0 = System.nanoTime()
      QueryService.candleBars(spark, reader, "SYM0042", "15m", start, end, 12).collect()
      val t1 = System.nanoTime()
      reader.inspectRange(spark, "SYM0042")
      val t2 = System.nanoTime()
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
    }
    val s = Seq.fill(5)(one())
    (s.map(_._1).sorted.apply(2), s.map(_._2).sorted.apply(2))
  }

  def main(args: Array[String]): Unit = {
    val width = args.headOption.flatMap(_.toIntOption).getOrElse(100)
    val depths = args.lift(1).getOrElse("30,120,365").split(",").map(_.trim.toInt).toSeq
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tmp = java.nio.file.Files.createTempDirectory("graft-wide-depth").toString

    for (d <- depths) {
      val root = s"$tmp/wide_$d"
      val writer = new MinuteLakeWriter(root, new PartitionLedger(s"$root/_state"),
        LakeLayout.DayWide(filesPerDay = 32))
      val t0 = System.nanoTime()
      writer.writeDaysWide(dayFrame(spark, width, d))
      val build = (System.nanoTime() - t0) / 1e9
      val (req, insp) = medianRequest(spark, root)
      // the operational deep-lake questions, both depth-flat by
      // construction now: a REPAIR tick (re-ingest the deepest existing
      // day, merge=true — the merge read must touch only that day's
      // files, not list the lake) and an APPEND tick (a brand-new day —
      // touched dirs empty, pure bulk write)
      val t1 = System.nanoTime()
      writer.writeDaysWide(dayFrame(spark, width, 1, End), merge = true)
      val repair = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      writer.writeDaysWide(
        dayFrame(spark, width, 1, End.plus(1, ChronoUnit.DAYS)), merge = true)
      val append = (System.nanoTime() - t2) / 1e9
      println(f"[wide-depth] layout=day-wide width=$width depth=$d%4d d " +
        f"build=$build%.1f s request=${req * 1000}%.0f ms inspectRange=${insp * 1000}%.0f ms " +
        f"repair-tick=$repair%.1f s append-tick=$append%.1f s (files=${d * 32})")
    }
    spark.stop()
  }
}
