package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Derives a larger scale factor from an existing testdata directory by
  * replicating fact tables `copies`× with remapped keys — the sf1 probe
  * the bench annex uses (the driver ships sf0.001/0.01/0.1 only).
  *
  * The derivation is PERF-ONLY data (never used for oracle correctness):
  *
  *  - fact keys offset by `copy * 1e8` per copy (the scaled tables are
  *    customer, documents, embeddings, events, lineitem, orders), so key
  *    cardinality grows with data — horizontal growth, the realistic
  *    scale dimension;
  *  - document text gets a per-copy suffix and embeddings a per-copy
  *    first-component nudge, so the copies are NOT exact duplicates and
  *    dedup/ANN queries keep realistic selectivity instead of exploding
  *    on 10-way duplicate clusters;
  *  - timestamps are left alone: the same window densifies 10×, which
  *    stresses per-bucket aggregation the way a busier lake would;
  *  - dimension tables (nation/region/part/supplier) stay fixed —
  *    dims don't grow with fact volume, and keeping them small preserves
  *    the broadcast-join shape the engine is designed around.
  *
  * Run: `sbt "runMain graft.tools.ScaleProbe <srcDir> <dstDir> [copies]"`
  * then `SPARK_GRAFT_SF_DIR=<dstDir> sbt "runMain graft.Bench"`. */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val copies = args.lift(2).flatMap(_.toIntOption).getOrElse(10)
    val spark = graft.GraftSession.local(Runtime.getRuntime.availableProcessors)
    // events.ts is TIMESTAMP(NANOS): surfaces as epoch-ns long; the
    // copy writes it back as int64, which SparkEntry.t() converts
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    // optional 4th arg: csv of tables to derive (default all) — a
    // documents-only sf100 for the dedup probes costs seconds instead
    // of replicating 600M event rows nobody reads
    val tablesFilter = args.lift(3).map(_.split(",").toSet)
    // ONE offset for every remapped key, sized from the source's actual
    // key space: a FIXED offset collides as soon as the source is itself
    // a derivation (sf1 ids reach 9e8, so sf1 -> sf10 under a 1e8 offset
    // mapped copy 9 of id x onto copy 0 of id x+9e8 — measured: 500k
    // sf10 docs had only 95k distinct doc_ids, poisoning every pair
    // query run on that corpus). The offset stays GLOBAL, not per-table:
    // orders.o_custkey and customer.c_custkey must shift by the same
    // amount or the remapped joins break.
    val keyCols = Seq("customer" -> "c_custkey", "documents" -> "doc_id",
      "embeddings" -> "vec_id", "events" -> "event_id", "events" -> "user_id",
      "lineitem" -> "l_orderkey", "orders" -> "o_orderkey", "orders" -> "o_custkey")
    // only the tables being derived contribute to the offset (a
    // documents-only derivation must not require orders to exist in a
    // documents-only source dir); the offset stays GLOBAL across the
    // derived set, so cross-table joins among them remain consistent
    val keyedDerived = keyCols.filter { case (t, _) => tablesFilter.forall(_.contains(t)) }
    require(keyedDerived.nonEmpty,
      s"tables filter selects no keyed fact table; keyed tables are: ${keyCols.map(_._1).distinct.mkString(", ")}")
    val maxKey = keyedDerived
      .map { case (t, c) =>
        spark.read.parquet(s"$src/$t.parquet").agg(max(col(c))).collect()(0).getLong(0)
      }.max
    val offset = BigDecimal(10).pow(math.ceil(math.log10((maxKey + 1).toDouble)).toInt)
      .toLongExact.max(100000000L)
    def scaled(table: String)(remap: DataFrame => DataFrame): Unit = {
      if (!tablesFilter.forall(_.contains(table))) return
      val rep = spark.read.parquet(s"$src/$table.parquet")
        .withColumn("__c", explode(sequence(lit(0L), lit(copies - 1L))))
      remap(rep).drop("__c").coalesce(8)
        .write.mode("overwrite").parquet(s"$dst/$table.parquet")
    }
    def off(c: String) = col(c) + col("__c") * offset

    scaled("customer")(_.withColumn("c_custkey", off("c_custkey")))
    // optional 5th arg, documents text mode:
    //  - "suffix" (default): copies share most shingles with their source
    //    (near-dup variants) — duplicate CLUSTER SIZE grows with every
    //    derivation level (sf0.1 → sf1 → sf10 → sf100 chains 100-member
    //    clusters), the worst case for incremental dedup probes;
    //  - "novel": copies get globally-unique synthetic token streams —
    //    cluster structure of the SOURCE corpus is preserved and copies
    //    add no cross-copy duplicates, the realistic shape for corpus
    //    growth (real dup clusters don't grow with corpus size).
    val docsMode = args.lift(4).getOrElse("suffix")
    scaled("documents")(_
      .withColumn("doc_id", off("doc_id"))
      .withColumn("text", docsMode match {
        case "novel" => when(col("__c") === 0, col("text")).otherwise(concat_ws(" ",
          (1 to 40).map(i => substring(md5(concat(col("doc_id"), lit(s"-nt$i"))), 1, 8)): _*))
        case _ => when(col("__c") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" cp"), col("__c")))
      })
      .withColumn("n_chars", length(col("text")).cast("long")))
    // embeddings follow the same mode as documents: the default nudge
    // (dim-0 + copy*0.001) keeps copies NEAR-IDENTICAL to their source,
    // so near-dup cluster size grows 10x per derivation level — by
    // sf100 every vector has ~1000 true near-duplicates and any correct
    // pair-emitter's OUTPUT is quadratic in cluster size (measured: the
    // sq8 near-dup wall at 2M such vectors is pair-volume-bound no
    // matter the LSH geometry). "novel" gives copies deterministic
    // md5-derived vectors instead — the source corpus's cluster
    // structure is preserved and clusters don't grow with scale, the
    // realistic shape (real near-dup clusters don't grow with corpus).
    scaled("embeddings")(_
      .withColumn("vec_id", off("vec_id"))
      .withColumn("embedding", docsMode match {
        case "novel" => expr(
          "IF(__c = 0, embedding, transform(embedding, (x, i) -> " +
            "cast((cast(conv(substr(md5(concat(cast(vec_id as string), ':', " +
            "cast(i as string))), 1, 8), 16, 10) as bigint) % 1000) " +
            "/ 500.0d - 1.0d as float)))")
        case _ => expr(
          "transform(embedding, (x, i) -> " +
            "IF(i = 0, cast(x + __c * 0.001d as float), x))")
      }))
    scaled("events")(_
      .withColumn("event_id", off("event_id"))
      .withColumn("user_id", off("user_id")))
    scaled("lineitem")(_.withColumn("l_orderkey", off("l_orderkey")))
    scaled("orders")(_
      .withColumn("o_orderkey", off("o_orderkey"))
      .withColumn("o_custkey", off("o_custkey")))
    for (t <- Seq("nation", "region", "part", "supplier")
         if tablesFilter.forall(_.contains(t)))
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    spark.stop()
  }
}
