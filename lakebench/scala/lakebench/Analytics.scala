package lakebench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** A fixed batch of `SparkEntry.queries` over the bundled corpus (the
  * sf0.001 tables), one query at a time, each fully materialized by a
  * parquet write of its result. The batch covers every analytics family. */
object Analytics {
  /** Span of a query, by the family its name belongs to. */
  def family(name: String): String =
    if (Seq("txt_", "ann_", "ivf_", "mm_", "sample_", "mix_", "export_").exists(name.startsWith))
      "analytics.functions"
    else if (Seq("dedup_", "stream_").exists(name.startsWith)) "analytics.dedup"
    else if (Seq("htf_", "qagg_", "mb_", "native_").exists(name.startsWith)) "analytics.bars"
    else "analytics.ops"

  /** The batch: one query of each family, all in the timed set of
    * `graft.Bench`. */
  val Batch: Seq[String] =
    Seq("txt_rolling_fingerprint", "dedup_simhash", "htf_aggregate_1w", "s3_latest_wins_dedup")

  def check(): Seq[String] =
    Batch.filterNot(SparkEntry.queries.contains).map(n => s"unknown query $n") ++
      Batch.filter(n => SparkEntry.oracleOnly(n) || SparkEntry.engineRoundtrip(n))
        .map(n => s"query $n is not timed by graft.Bench")

  /** Runs one batch query and writes its result under `out`, where the
    * DuckDB compare (`tools/local_verify.py`) picks it up. */
  def run(spark: SparkSession, corpus: String, name: String, out: String): Unit =
    SparkEntry.queries(name)(spark, corpus).write.mode("overwrite").parquet(s"$out/$name")

  /** The oracle SQL of the batch, next to its results. */
  def writeOracle(out: String): Unit = {
    val json = Batch.map(n => s"${Main.q(n)}: ${Main.q(SparkEntry.oracleSql(n))}")
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), json)
  }
}
