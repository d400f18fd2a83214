package lakebench

import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Generator test: the same seed gives the same content hash for every
  * generated frame, and a different seed gives a different one.
  * Run with `python3 lakebench/test_gen.py`; exits non-zero on failure. */
object GenCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val start = Instant.parse("2026-01-05T00:00:00Z")
    val symbols = Seq("BTCUSDT", "ETHUSDT", "SOLUSDT")
    def hashes(seed: Long): Map[String, Long] = {
      val g = Gen(seed, symbols, start, days = 8)
      val history = g.minutes(spark)
      Map("history" -> Gen.contentHash(history),
        "patches" -> Gen.contentHash(g.patches(spark, history, 3))) ++
        g.sources(2).map { case (n, r) =>
          n -> Gen.contentHash(spark.createDataFrame(
            r.rows.toSeq.sortBy(_._1).flatMap(_._2).toList.asJava, r.schema))
        }
    }
    val a = hashes(1L)
    val b = hashes(1L)
    val c = hashes(2L)
    val same = a.keys.toSeq.sorted.filter(k => a(k) != b(k))
    // frames whose content does not depend on the seed by design
    val seedFree = Set("funding", "premium")
    val notDiff = a.keys.toSeq.sorted.filter(k => !seedFree(k) && a(k) == c(k))
    spark.stop()
    a.keys.toSeq.sorted.foreach(k => println(f"$k%-10s seed1=${a(k)}%d seed1'=${b(k)}%d seed2=${c(k)}%d"))
    if (same.nonEmpty) println(s"FAIL same seed, different content: ${same.mkString(", ")}")
    if (notDiff.nonEmpty) println(s"FAIL different seed, same content: ${notDiff.mkString(", ")}")
    if (same.nonEmpty || notDiff.nonEmpty) sys.exit(1)
    println("PASS generator is deterministic per seed and differs across seeds")
  }
}
