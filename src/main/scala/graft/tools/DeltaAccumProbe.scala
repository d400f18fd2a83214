package graft.tools

import java.time.Instant

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.{LakeLayout, MinuteLakeReader, MinuteLakeWriter, PartitionLedger}

/** Delta-accumulation behavior between compactions: how does the
  * read-overlay cost grow with the UNCOMPACTED delta population, and
  * what does compaction buy back? The design claim is "delta
  * population bounded small by compaction" — this prices what happens
  * when the threshold is slack (many patches accumulate) so the
  * compaction cadence can be chosen from numbers, not vibes.
  *
  * Shape: width-W day-wide lake (one day), then K successive
  * 1-symbol-hour patches (rotating symbols), measuring the patched
  * window read and the patch write itself every `sampleEvery` patches;
  * then compact and re-measure.
  *
  * The measured read is `MinuteLakeReader.readWindow`, a one-day
  * window, which runs as ONE task ([[graft.sources.DayDirs.singleTaskIfBounded]]).
  * `boundedRead` figures recorded before the single-symbol reads became
  * one partition (SURVEY's delta-accumulation annex) timed a parallel
  * scan plus a shuffled dedup on `local[32]`, and do not compare with
  * figures taken since.
  *
  * Run: `sbt "runMain graft.tools.DeltaAccumProbe [width] [patches]"`
  * (defaults 1000 / 24).
  */
object DeltaAccumProbe {

  private val Day1 = Instant.parse("2026-01-14T00:00:00Z")

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val width = args.headOption.flatMap(_.toIntOption).getOrElse(1000)
    val patches = args.lift(1).flatMap(_.toIntOption).getOrElse(24)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val tmp = java.nio.file.Files.createTempDirectory("graft-delta-accum").toString
    val writer = new MinuteLakeWriter(tmp, new PartitionLedger(s"$tmp/_state"),
      LakeLayout.DayWide(32))
    val reader = new MinuteLakeReader(tmp)

    // synthetic dense day: every symbol × every minute (perf synth)
    def dayFrame(nSymbols: Int, dayStart: Instant, openBase: Double,
                 hours: Int) = {
      val base = spark.range(nSymbols.toLong)
        .selectExpr("format_string('SYM%05d', id) AS symbol")
        .crossJoin(spark.range(hours * 60L).select(
          (lit(dayStart.toEpochMilli) + col("id") * 60000L).as("ms"),
          (col("id") % 50).cast("double").as("step")))
        .select(col("symbol"), timestamp_millis(col("ms")).as("timestamp"),
          (lit(openBase) + col("step")).as("open"),
          (lit(openBase + 1.0) + col("step")).as("high"),
          (lit(openBase - 1.0) + col("step")).as("low"),
          (lit(openBase + 0.5) + col("step")).as("close"),
          lit(1.2).as("volume_btc"), lit(120000.0).as("volume_usdt"),
          lit(10L).as("trade_count"),
          (lit(openBase + 0.1) + col("step")).as("mark_price_open"),
          (lit(openBase + 0.4) + col("step")).as("mark_price_close"),
          (lit(openBase) + col("step")).as("index_price_open"),
          (lit(openBase + 0.2) + col("step")).as("index_price_close"))
      graft.schema.CanonicalSchema.columns.foldLeft(base) { (df, c) =>
        if (df.columns.contains(c.name)) df.withColumn(c.name, col(c.name).cast(c.sparkType))
        else df.withColumn(c.name, lit(null).cast(c.sparkType))
      }
    }

    val (_, buildSecs) = timed(writer.writeDaysWide(dayFrame(width, Day1, 100.0, 24)))
    println(f"[delta-accum] width=$width build=$buildSecs%.1f s patches=$patches")

    def readWall(): Double = {
      val sym = "SYM00007"
      val (_, s) = timed {
        reader.readWindow(spark, sym,
          Instant.parse("2026-01-14T06:00:00Z"),
          Instant.parse("2026-01-14T08:59:00Z")).count()
      }
      s
    }

    val sampleEvery = math.max(1, patches / 4)
    var patchWalls = List.empty[Double]
    for (k <- 1 to patches) {
      val sym = f"SYM${k % width}%05d"
      val hour = Instant.parse(f"2026-01-14T${k % 24}%02d:00:00Z")
      val (_, pw) = timed {
        writer.writeHourPartition(sym, hour,
          dayFrame(1, hour, 500.0 + k, 1)
            .withColumn("symbol", lit(sym)).drop("symbol"))
      }
      patchWalls ::= pw
      if (k % sampleEvery == 0 || k == patches)
        println(f"[delta-accum] after $k%3d patches: patchWrite=$pw%.2f s " +
          f"boundedRead=${readWall()}%.2f s")
    }
    val (folded, compactSecs) = timed(writer.compactWideDeltas(spark))
    println(f"[delta-accum] compact=${folded.size} days $compactSecs%.1f s | " +
      f"postCompactRead=${readWall()}%.2f s | " +
      f"patchWrite median=${patchWalls.sorted.apply(patchWalls.size / 2)}%.2f s")
    spark.stop()
  }
}
