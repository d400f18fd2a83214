package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.DedupOps
import graft.streaming.StreamNearDup

/** Streaming near-dup est-gate: flags stream-time near-duplicates with
  * bounded per-bucket state. Pins (1) agreement with the BATCH est-gate
  * (DedupOps.allPairCandidates + graft_sig_agree) on the same corpus,
  * (2) the detection horizon (an old member stops matching and its
  * bucket state is evicted by the event-time timeout), (3) the
  * hot-bucket cap (state stays bounded and overflow is FLAGGED, not
  * silent). */
final case class NearDoc(docId: Long, text: String, ts: java.sql.Timestamp)

class StreamNearDupSpec extends SparkSpec {
  import spark.implicits._

  private val NB = 8; private val RP = 2 // 8 bands x 2 rows of 16 perms

  private def doc(id: Long, text: String, at: String): NearDoc =
    NearDoc(id, text, ts(at))

  private val baseText = (1 to 30).map(i => s"tok$i").mkString(" ")
  private val nearText = (1 to 29).map(i => s"tok$i").mkString(" ") + " tokX"
  private val novelText = (1 to 30).map(i => s"other$i").mkString(" ")

  private def runStream(batches: Seq[Seq[NearDoc]], horizonMs: Long,
                        maxMembers: Int = 128):
      (Seq[org.apache.spark.sql.Row], Long) = {
    val (rows, stateRows, _) = runStreamWithLedger(batches, horizonMs, maxMembers)
    (rows, stateRows)
  }

  /** Like [[runStream]] but also returns the per-window recall-forfeit
    * ledger (one 10-minute tumbling window per row). */
  private def runStreamWithLedger(batches: Seq[Seq[NearDoc]], horizonMs: Long,
                                  maxMembers: Int = 128):
      (Seq[org.apache.spark.sql.Row], Long, Seq[org.apache.spark.sql.Row]) = {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tempDir(
      java.nio.file.Paths.get("/dev/shm"), "graft-neardup").toString
    val stream = MemoryStream[NearDoc]
    val name = s"near_dup_test_${System.nanoTime()}"
    val query = StreamNearDup.nearDupVerdicts(stream.toDF(), "docId", "text", "ts",
        NB, RP, delay = "1 minute", horizonMs = horizonMs, maxMembers = maxMembers)
      .writeStream.outputMode("append").format("memory")
      .option("checkpointLocation", ckpt)
      .queryName(name).start()
    try {
      batches.foreach { b => stream.addData(b: _*); query.processAllAvailable() }
      val verdicts = spark.sql(s"SELECT * FROM $name")
      val rows = StreamNearDup.decisions(
        verdicts.as[StreamNearDup.BandVerdict]).collect().toSeq
      val ledger = StreamNearDup.recallLedger(
        verdicts.as[StreamNearDup.BandVerdict], "10 minutes").collect().toSeq
      val stateRows = query.lastProgress.stateOperators.headOption
        .map(_.numRowsTotal).getOrElse(-1L)
      (rows, stateRows, ledger)
    } finally {
      query.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
  }

  private def flagMap(rows: Seq[org.apache.spark.sql.Row]): Map[Long, Option[Long]] =
    rows.map { r =>
      val idx = (c: String) => r.schema.fieldIndex(c)
      (r.getLong(idx("docId")),
        if (r.isNullAt(idx("matched_id"))) None else Some(r.getLong(idx("matched_id"))))
    }.toMap

  test("flags a within-horizon near-dup, passes novel docs; agrees with the batch est-gate") {
    val docs = Seq(
      doc(1L, baseText, "2026-01-15T10:00:00Z"),
      doc(2L, nearText, "2026-01-15T10:00:05Z"),
      doc(3L, novelText, "2026-01-15T10:00:06Z"))
    val (rows, _) = runStream(Seq(docs), horizonMs = 60000L)
    val flags = flagMap(rows)
    assert(flags == Map(1L -> None, 2L -> Some(1L), 3L -> None))

    // batch parity: the same docs through DedupOps' candidate + est-gate
    // (no exact verify — the stream stage IS the est-gate) must flag the
    // same set: any doc with an est-agreeing EARLIER partner in a bucket
    val df = docs.toDF()
      .withColumn("sig", graft.functions.TextFns.minhashSignatureFromText("text", 3, 16))
    val bandExprs = (0 until NB).map { b =>
      md5(concat_ws("|",
        (0 until RP).map(r => col("sig").getItem(b * RP + r).cast("string")): _*))
    }
    val bands = df.select(col("docId").as("doc_id"), col("sig"),
      explode(array(bandExprs: _*)).as("bucket"))
    val gated = DedupOps.allPairCandidates(bands)
      .where(expr("graft_sig_agree(sig_a, sig_b)") >= 4)
      .select("id_a", "id_b").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // ids are assigned in event-time order here, so id_a < id_b means
    // id_a arrived first: the streaming stage must flag exactly the id_b
    // side of every gated pair
    val expectFlagged = gated.map(_._2)
    assert(rows.filter(r => !r.isNullAt(r.schema.fieldIndex("matched_id")))
      .map(_.getLong(0)).toSet == expectFlagged)
  }

  test("horizon expiry: an old member no longer matches, and its bucket state is evicted") {
    val batches = Seq(
      Seq(doc(1L, baseText, "2026-01-15T10:00:00Z")),
      Seq(doc(4L, nearText, "2026-01-15T10:05:00Z")), // 5 min later, horizon 1 min
      Seq(doc(5L, novelText, "2026-01-15T10:06:00Z")))
    val (rows, stateRows) = runStream(batches, horizonMs = 60000L)
    val flags = flagMap(rows)
    assert(flags(4L).isEmpty, "doc 4 is a near-dup of doc 1 but outside the horizon")
    assert(flags(5L).isEmpty)
    // doc 1's buckets timed out when the watermark passed (10:05 - 1m
    // delay > 10:00 + 1m horizon): only docs 4 and 5's buckets remain
    assert(stateRows >= 0 && stateRows <= 2L * NB,
      s"state rows $stateRows exceed the two live docs' bucket bound ${2 * NB}")
  }

  test("hot-bucket cap: overflow is flagged as saturated and state stays bounded") {
    val docs = (0 until 4).map { i =>
      doc(10L + i, baseText, f"2026-01-15T10:00:0$i%dZ") // identical text
    }
    val (rows, stateRows) = runStream(Seq(docs), horizonMs = 60000L, maxMembers = 2)
    val byId = rows.map { r =>
      val idx = (c: String) => r.schema.fieldIndex(c)
      (r.getLong(idx("docId")),
        (!r.isNullAt(idx("matched_id")), r.getBoolean(idx("any_bucket_saturated"))))
    }.toMap
    assert(byId(10L) == (false, false))
    assert(byId(11L) == (true, false))
    assert(byId(12L) == (true, true), "third doc matches but its buckets are at the cap")
    assert(byId(13L) == (true, true))
    assert(stateRows <= 2L * NB,
      s"state rows $stateRows exceed maxMembers x buckets = ${2 * NB}")
  }

  test("recall ledger: saturation and horizon losses aggregate per window; healthy runs read zero") {
    // saturate: maxMembers=2, four identical docs → docs 12/13 arrive at
    // the cap in every band bucket; then a fifth identical doc 5 minutes
    // later (horizon 1 min) ages out both members per bucket at match time
    val lossy = Seq(
      (0 until 4).map(i => doc(10L + i, baseText, f"2026-01-15T10:00:0$i%dZ")),
      Seq(doc(20L, baseText, "2026-01-15T10:05:00Z")))
    val (_, _, ledger) = runStreamWithLedger(lossy, horizonMs = 60000L, maxMembers = 2)
    assert(ledger.size == 1, s"one 10-minute window expected, got ${ledger.size}")
    val r = ledger.head
    val idx = (c: String) => r.schema.fieldIndex(c)
    // identical text → identical signature → the same NB distinct buckets
    // for every doc (precondition asserted via band_rows/docs_seen)
    assert(r.getLong(idx("docs_seen")) == 5L)
    assert(r.getLong(idx("band_rows")) == 5L * NB)
    assert(r.getLong(idx("buckets_saturated")) == NB.toLong,
      "docs 12/13 hit the cap in every band bucket")
    assert(r.getLong(idx("arrivals_at_cap")) == 2L * NB,
      "two docs refused admission across all their buckets")
    assert(r.getLong(idx("members_pruned_by_horizon")) == 2L * NB,
      "doc 20 aged out both members in each bucket")

    // healthy config (ample cap, wide horizon): every loss column is zero
    val healthy = Seq(Seq(
      doc(1L, baseText, "2026-01-15T10:00:00Z"),
      doc(2L, nearText, "2026-01-15T10:00:05Z"),
      doc(3L, novelText, "2026-01-15T10:00:06Z")))
    val (_, _, clean) = runStreamWithLedger(healthy, horizonMs = 3600000L)
    assert(clean.size == 1)
    val c = clean.head
    val cidx = (s: String) => c.schema.fieldIndex(s)
    assert(c.getLong(cidx("buckets_saturated")) == 0L)
    assert(c.getLong(cidx("arrivals_at_cap")) == 0L)
    assert(c.getLong(cidx("members_pruned_by_horizon")) == 0L)
  }

  test("a doc too short to shingle produces no band rows and no state") {
    // < 3 tokens ⇒ empty shingle set ⇒ all-null signature positions; it
    // must be dropped BEFORE the state store (a null element would
    // violate the member array's non-nullable encoder) while its event
    // time still advances the watermark
    val batches = Seq(
      Seq(doc(1L, baseText, "2026-01-15T10:00:00Z"),
        doc(2L, "too short", "2026-01-15T10:00:01Z")),
      Seq(doc(3L, nearText, "2026-01-15T10:00:30Z")))
    val (rows, stateRows) = runStream(batches, horizonMs = 60000L)
    val flags = flagMap(rows)
    assert(!flags.contains(2L), "short doc must not reach the stateful stage")
    assert(flags(3L).contains(1L), "real near-dup detection unaffected")
    assert(stateRows <= 2L * NB,
      s"state rows $stateRows exceed the two shingleable docs' bound ${2 * NB}")
  }
}
