package graft

import graft.operators.GraphOps

class GraphOpsSpec extends SparkSpec {

  private def cc(vertices: Seq[Long], edges: Seq[(Long, Long)],
                 maxRounds: Int = 25): Map[Long, Long] = {
    import spark.implicits._
    GraphOps.connectedComponents(
      vertices.toDF("id"), edges.toDF("src", "dst"), maxRounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("components: chain, triangle-with-tail, singletons") {
    val result = cc(
      vertices = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 9L),
      // chain 1-2-3; cluster {4,5,6} with tail 7; 8 and 9 isolated
      edges = Seq((2L, 1L), (2L, 3L), (4L, 5L), (5L, 6L), (4L, 6L), (6L, 7L)))
    assert(result == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 4L, 7L -> 4L,
      8L -> 8L, 9L -> 9L))
  }

  test("long path needs multiple rounds and still converges") {
    val n = 12L
    val result = cc((1L to n).toSeq, (1L until n).map(i => (i, i + 1)))
    assert(result == (1L to n).map(_ -> 1L).toMap)
  }

  test("a CC round is ONE Spark job: convergence rides the checkpoint materialization (r21)") {
    import graft.operators.GraphOps
    import spark.implicits._
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // star {1,2,3}: round 1 propagates the min, round 2 confirms the
      // fixpoint — 2 rounds exactly. The changed-count observation is
      // collected during the round's checkpoint job, not by a separate
      // scan: measured on this graph under the session's AQE defaults,
      // the loop costs 9 jobs where the r20 shape (a per-round
      // changed-scan after the checkpoint) cost 13 — two fewer jobs per
      // round. The absolute count folds in AQE stage jobs, so the pin
      // is the measured value, not arithmetic; what must never come
      // back is the per-round gap.
      val result = GraphOps.connectedComponents(
        Seq(1L, 2L, 3L).toDF("id"), Seq((1L, 2L), (1L, 3L)).toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(result == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
      Thread.sleep(300) // listener drain
      val observed = jobs.get()
      assert(observed <= 9,
        s"a 2-round CC must cost ≤9 jobs (r20's separate changed-scan shape cost 13), saw $observed")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("duplicate and self edges are tolerated") {
    val result = cc(Seq(1L, 2L, 3L),
      Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, 3L)))
    assert(result == Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
  }

  test("round bound trips instead of looping forever") {
    assertThrows[IllegalArgumentException](
      cc((1L to 40L).toSeq, (1L until 40L).map(i => (i, i + 1)), maxRounds = 2))
  }

  test("reliable checkpointing is a constructor argument: closure identical through _.checkpoint() (VERDICT r14 #4)") {
    import spark.implicits._
    val ckptDir = tempDir("graft-cc-ckpt").toString
    val prior = Option(spark.sparkContext.getCheckpointDir).flatten
    spark.sparkContext.setCheckpointDir(ckptDir)
    try {
      // long chain (forces pointer-doubled rounds) + cluster + singleton
      val vertices = ((1L to 30L) ++ Seq(100L, 101L, 102L, 200L)).toDF("id")
      val edges = ((1L until 30L).map(i => (i, i + 1)) ++
        Seq((100L, 101L), (101L, 102L))).toDF("src", "dst")
      val local = GraphOps.connectedComponents(vertices, edges)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val reliable = GraphOps.connectedComponents(vertices, edges,
        checkpointer = _.checkpoint())
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(reliable == local)
      // durable blocks really were written (lineage cut survives
      // executor loss on a cluster — the point of the parameter)
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(ckptDir),
        spark.sparkContext.hadoopConfiguration)
      assert(fs.listStatus(new org.apache.hadoop.fs.Path(ckptDir)).nonEmpty)

      // incremental closure through the same seam
      val assign = GraphOps.connectedComponents(vertices, edges)
      val incLocal = GraphOps.incrementalComponents(assign,
        Seq(300L).toDF("id"), Seq((300L, 1L)).toDF("src", "dst"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val incReliable = GraphOps.incrementalComponents(assign,
        Seq(300L).toDF("id"), Seq((300L, 1L)).toDF("src", "dst"),
        checkpointer = _.checkpoint())
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(incReliable == incLocal)
    } finally prior.foreach(spark.sparkContext.setCheckpointDir)
  }

  test("star edges yield IDENTICAL components to the all-pairs bucket self-join (the dedup_cc_autosize shortcut)") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFns
    // real corpus buckets (8x2 minhash bands over sf0.001 documents) so
    // the equivalence is pinned on genuinely overlapping, multi-band
    // bucket structure, not a toy graph
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val withSig = docs
      .withColumn("sig", TextFns.minhashSignatureFromText("text", 3, 16))
    val bandExprs = (0 until 8).map { b =>
      md5(concat_ws("|", col("sig").getItem(b * 2).cast("string"),
        col("sig").getItem(b * 2 + 1).cast("string")))
    }
    val bands = withSig
      .select(col("doc_id"), explode(array(bandExprs: _*)).as("bucket"))
    val allPairs = bands.select(col("doc_id").as("src"), col("bucket"))
      .join(bands.select(col("doc_id").as("dst"), col("bucket")), Seq("bucket"))
      .where(col("src") < col("dst")).select("src", "dst").distinct()
    val bucketMin = bands.groupBy("bucket").agg(min(col("doc_id")).as("src"))
    val star = bands.join(bucketMin, Seq("bucket"))
      .where(col("src") < col("doc_id"))
      .select(col("src"), col("doc_id").as("dst")).distinct()
    val nPairs = allPairs.count()
    val nStar = star.count()
    assert(nStar < nPairs, s"star ($nStar) should be smaller than all-pairs ($nPairs)")
    val vertices = docs.select(col("doc_id").as("id"))
    def comps(edges: org.apache.spark.sql.DataFrame) =
      GraphOps.connectedComponents(vertices, edges)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(comps(star) == comps(allPairs))
  }

  test("incremental closure (existing assignment stars + new-touched buckets) equals the full batch closure") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFns
    // the dedup_cc_incremental construction on real corpus buckets:
    // splitting must not change the final components — including the
    // case where a NEW doc bridges two EXISTING components
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val withSig = docs
      .withColumn("sig", TextFns.minhashSignatureFromText("text", 3, 16))
    val bandExprs = (0 until 8).map { b =>
      md5(concat_ws("|", col("sig").getItem(b * 2).cast("string"),
        col("sig").getItem(b * 2 + 1).cast("string")))
    }
    val bands = withSig
      .select(col("doc_id"), explode(array(bandExprs: _*)).as("bucket"),
        (col("doc_id") % 4 === 0).as("is_new"))
    def starEdges(bk: org.apache.spark.sql.DataFrame) = {
      val bmin = bk.groupBy("bucket").agg(min(col("doc_id")).as("src"))
      bk.join(bmin, Seq("bucket"))
        .where(col("src") < col("doc_id"))
        .select(col("src"), col("doc_id").as("dst")).distinct()
    }
    val vertices = docs.select(col("doc_id").as("id"))
    val batch = GraphOps.connectedComponents(vertices, starEdges(bands))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap

    val assign = GraphOps.connectedComponents(
      docs.where(col("doc_id") % 4 =!= 0).select(col("doc_id").as("id")),
      starEdges(bands.where(!col("is_new"))))
    val assignEdges = assign.where(col("component_id") =!= col("id"))
      .select(col("component_id").as("src"), col("id").as("dst"))
    val touched = bands.where(col("is_new")).select("bucket").distinct()
    val touchedEdges = starEdges(
      bands.join(touched, Seq("bucket")).select("doc_id", "bucket"))
    val incremental = GraphOps.connectedComponents(
        vertices, assignEdges.unionByName(touchedEdges))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(incremental == batch)
    // the affected-subgraph form (production phase 2: only components
    // touched by the increment re-close, the rest pass through) must
    // give the SAME assignment as the full closure
    val affectedOnly = GraphOps.incrementalComponents(assign,
        docs.where(col("doc_id") % 4 === 0).select(col("doc_id").as("id")),
        touchedEdges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(affectedOnly == batch)
    // sanity: the split actually produced both populations and at least
    // one bucket mixing old and new (otherwise the test proves nothing)
    assert(bands.where(col("is_new")).count() > 0)
    assert(bands.groupBy("bucket")
      .agg(countDistinct(col("is_new")).as("k")).where(col("k") === 2)
      .count() > 0, "no bucket mixes old and new docs — split degenerate")
  }

  test("verified-edge incremental closure equals the batch verified closure (SparkEntry queries)") {
    // the operator contract of dedup_cc_verified_incremental: phase-1
    // closure over old docs + est-gated/exact-verified delta edges
    // incident to new docs re-closed through incrementalComponents must
    // reproduce dedup_cc_verified's batch assignment row-for-row (the
    // DuckDB oracle pins the same equivalence against the batch SQL)
    val dir = "/root/testdata/sf0.001"
    def compMap(q: String) = SparkEntry.queries(q)(spark, dir)
      .select("doc_id", "component_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val batch = compMap("dedup_cc_verified")
    val incremental = compMap("dedup_cc_verified_incremental")
    assert(incremental == batch)
    // degenerate-split guard: both populations present, and the batch
    // closure actually has at least one multi-member component so the
    // equivalence is not vacuous
    assert(incremental.nonEmpty)
    assert(batch.groupBy(_._2).exists(_._2.size > 1),
      "no multi-member verified component at sf0.001 — equivalence vacuous")
  }

  test("incrementalComponents: isolated new vertices become singletons; bridge merges two components") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // existing: {1,2} and {3,4} as two components; new: 10 bridges 2-3,
    // 11 is isolated
    val assign = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L)).toDF("id", "component_id")
    val newIds = Seq(10L, 11L).toDF("id")
    val delta = Seq((2L, 10L), (10L, 3L)).toDF("src", "dst")
    val got = GraphOps.incrementalComponents(assign, newIds, delta)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 1L, 11L -> 11L))
  }
}
