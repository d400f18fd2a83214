package lakebench

import java.time.Instant

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.schema.Timeframes

/** Correctness checks. Each recomputes its expectation from the
  * generated inputs with plain Spark SQL — never through the lake
  * readers, writers or aggregators under test — and runs outside the
  * timed regions. A check returns the list of its failures. */
object Checks {
  private val Cols = Seq("symbol", "timestamp", "open", "high", "low", "close", "volume_btc")

  /** Last-wins merge of what the lake was given: the history, then the
    * first `hours` fresh hours (their klines), then the first `patches`
    * patches in landing order. */
  def expectedMinutes(spark: SparkSession, in: Inputs, hours: Int, patches: Int): DataFrame = {
    val hist = in.history(spark).select(Cols.map(col): _*).withColumn("prio", lit(0))
    val fresh = in.gen.symbols.flatMap(s => (0 until hours).map(h =>
        in.source(spark, "klines", s, h).withColumn("symbol", lit(s))))
      .foldLeft(in.source(spark, "klines", "", 0).withColumn("symbol", lit("")))(_ unionByName _)
      .select(col("symbol"), timestamp_millis(col("open_time")).as("timestamp"),
        col("open"), col("high"), col("low"), col("close"), col("volume_btc"))
      .withColumn("prio", lit(1))
    val patched = in.patches(spark).where(col("patch") < patches)
      .select((Cols.map(col) :+ (col("patch") + 2).as("prio")): _*)
    val w = Window.partitionBy("symbol", "timestamp").orderBy(col("prio").desc)
    hist.unionByName(fresh).unionByName(patched)
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1).drop("rn", "prio")
  }

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** The windowed read-back equals the expected minutes, per symbol, by
    * row count and by open/close checksums. */
  def readBack(spark: SparkSession, lake: Lake, expected: DataFrame,
               lo: Instant, hi: Instant): Seq[String] = {
    def summary(df: DataFrame): Map[String, (Long, Double, Double)] =
      df.where(col("timestamp").between(java.sql.Timestamp.from(lo), java.sql.Timestamp.from(hi)))
        .groupBy("symbol").agg(count(lit(1)), sum("open"), sum("close")).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    val want = summary(expected)
    val got = lake.reader.readWindowAllSymbols(spark, lo, hi).map(summary).getOrElse(Map.empty)
    (want.keySet ++ got.keySet).toSeq.sorted.flatMap { s =>
      (want.get(s), got.get(s)) match {
        case (Some((n1, o1, c1)), Some((n2, o2, c2)))
            if n1 == n2 && close(o1, o2) && close(c1, c2) => None
        case (w, g) => Some(s"read-back $s: expected $w, got $g")
      }
    }
  }

  /** Plain bucket start of `ts` for one timeframe spec. */
  private def bucket(spec: graft.schema.TimeframeSpec): org.apache.spark.sql.Column =
    spec.fixedMinutes match {
      case Some(m) => timestamp_seconds(floor(unix_seconds(col("timestamp")) / (m * 60)) * (m * 60))
      case None if spec.name == "1w" => date_trunc("week", col("timestamp"))
      case None => date_trunc("month", col("timestamp"))
    }

  private def expectedCount(spec: graft.schema.TimeframeSpec): org.apache.spark.sql.Column =
    spec.fixedMinutes match {
      case Some(m) => lit(m)
      case None if spec.name == "1w" => lit(7L * 1440)
      case None => (unix_seconds(add_months(col("bucket_start"), 1)) -
        unix_seconds(col("bucket_start"))) / 60
    }

  /** Every complete HTF bucket the tree holds at or after `cutoff` equals
    * a plain groupBy over the expected minutes, and no complete bucket is
    * missing from it. */
  def htf(spark: SparkSession, lake: Lake, expected: DataFrame, cutoff: Instant): Seq[String] =
    lake.specs.flatMap { spec =>
      val want = expected.withColumn("bucket_start", bucket(spec))
        .groupBy("symbol", "bucket_start")
        .agg(count(lit(1)).as("n"), max("high").as("high"), min("low").as("low"),
          sum("volume_btc").as("volume_btc"))
        .where(col("n") === expectedCount(spec) &&
          col("bucket_start") >= java.sql.Timestamp.from(cutoff))
      val dir = s"${lake.htfRoot}/timeframe=${spec.name}"
      val got =
        if (Lake.du(spark, dir) == 0L) None
        else Some(spark.read.parquet(dir).where(col("bucket_complete"))
          .select(col("symbol"), col("bucket_start"),
            col("observed_minutes_in_bucket").cast("long").as("n"),
            col("high"), col("low"), col("volume_btc")))
      val wantRows = want.collect().map(r => (r.getString(0), r.getTimestamp(1)) -> r).toMap
      val gotRows = got.map(_.collect().map(r => (r.getString(0), r.getTimestamp(1)) -> r).toMap)
        .getOrElse(Map.empty[(String, java.sql.Timestamp), Row])
      def same(a: Row, b: Row): Boolean = a.getLong(2) == b.getLong(2) &&
        close(a.getDouble(3), b.getDouble(3)) && close(a.getDouble(4), b.getDouble(4)) &&
        close(a.getDouble(5), b.getDouble(5))
      val bad = (wantRows.keySet ++ gotRows.keySet).toSeq.filterNot { k =>
        (wantRows.get(k), gotRows.get(k)) match {
          case (Some(a), Some(b)) => same(a, b)
          case _ => false
        }
      }
      if (bad.isEmpty) Nil
      else Seq(s"htf ${spec.name}: ${bad.size} buckets differ, e.g. ${bad.sortBy(_._2.getTime).take(3)}" +
        s" (expected ${wantRows.size}, tree ${gotRows.size})")
    }

  /** Served candle rows equal an independent aggregation of the expected
    * minutes: each served bar is a complete bucket with the same OHLC and
    * volume, and a window that holds complete buckets serves some. */
  def bars(spark: SparkSession, expected: DataFrame, r: Req, body: Map[String, Any]): Seq[String] = {
    val data = body.get("data").collect { case m: Map[_, _] => m.asInstanceOf[Map[String, Seq[String]]] }
      .getOrElse(Map.empty)
    r.tfs.flatMap { tf =>
      val spec = Timeframes.parse(tf)
      val served = data.getOrElse(ApiTimeframes(tf), Nil).map { js =>
        (Instant.parse(Json.field(js, "timestamp").toString),
          Seq("open", "high", "low", "close", "volume_btc").map(c =>
            Json.field(js, c).asInstanceOf[Double]))
      }
      val mins = spec.fixedMinutes.get
      val lo = r.end.minusSeconds(60L * mins * (r.limit + 1))
      val ohlc = expected.where(col("symbol") === r.symbol &&
          col("timestamp").between(java.sql.Timestamp.from(lo), java.sql.Timestamp.from(r.end)))
        .withColumn("bucket_start", bucket(spec))
        .groupBy("bucket_start")
        .agg(count(lit(1)).as("n"),
          min_by(col("open"), col("timestamp")).as("open"), max("high").as("high"),
          min("low").as("low"), max_by(col("close"), col("timestamp")).as("close"),
          sum("volume_btc").as("volume_btc"))
        .where(col("n") === mins).collect()
        .map(x => x.getTimestamp(0).toInstant -> (1 to 5).map(i => x.getDouble(i + 1))).toMap
      val wrong = served.filterNot { case (ts, v) =>
        ohlc.get(ts).exists(e => e.zip(v).forall { case (a, b) => close(a, b) })
      }
      if (wrong.nonEmpty)
        Seq(s"bars ${r.symbol} $tf end=${r.end} limit=${r.limit}: ${wrong.size} of " +
          s"${served.size} served bars differ, e.g. ${wrong.head}")
      else if (served.isEmpty && ohlc.nonEmpty)
        Seq(s"bars ${r.symbol} $tf end=${r.end}: no bars served, ${ohlc.size} expected")
      else Nil
    }
  }

  /** API timeframe token → the key the payload's data map uses. */
  private object ApiTimeframes {
    def apply(tf: String): String = graft.service.ApiTimeframes.parseSpec(tf).apiName
  }
}
