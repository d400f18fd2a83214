package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.TextFns

/** Streaming NEAR-duplicate detection — the streaming twin of the
  * batch est-gated MinHash family (`dedup_minhash_pairs_est`,
  * `DedupOps`). A training-data ingest wants to suppress near-dups at
  * stream time, BEFORE they land in the lake; exact-Jaccard
  * verification then runs in the daily batch tick
  * (`dedup_cc_verified_incremental`), so the stream stage is the
  * est-gate: cheap, bounded-state, and it only ever FLAGS (a flagged
  * doc can be re-admitted by the batch verifier; an unflagged true dup
  * is caught by the nightly closure — the stream stage trades a little
  * recall for zero unbounded state).
  *
  * Shape: signature + band buckets are computed with the same
  * expressions as the batch family (one codegen'd projection), the
  * stream is keyed BY BUCKET, and `flatMapGroupsWithState` keeps a
  * bounded member list per bucket:
  *
  *  - state per bucket ≤ `maxMembers` (the hot-bucket guard twin of
  *    `Ops.capBucketOccupancy`) — a pathological bucket cannot grow
  *    state without bound, it just stops detecting inside the overflow
  *    (counted in the output's `saturated` flag, not silent);
  *  - members older than the horizon are pruned on every update, and
  *    an idle bucket's whole group is evicted by the EVENT-TIME
  *    timeout when the watermark passes it — state is bounded by
  *    (buckets active in the horizon) × maxMembers, not stream age;
  *  - a doc matches in a bucket if any live member's signature agrees
  *    in ≥ `minAgree` of 16 positions (the batch family's est-gate).
  *
  * STAR-RESCUE POLICY NOTE (VERDICT r14 #5): the batch star policy
  * needed an agreement-ranked rescue round because it verifies only
  * (bucket-min, member) pairs, and on CHAIN corpora the bucket-min is
  * often not a true dup of far members
  * ([[graft.operators.DedupOps.verifiedStarRescueEdges]]). The stream
  * stage has NO such loss mode by construction: a doc is compared
  * against EVERY live member of its bucket (incident-pairs within the
  * horizon), not only the min, so a chain doc's true neighbor — when
  * co-bucketed and inside the horizon — is always among the candidates
  * already. Measured (the streaming probe's 20k-doc chain leg, SURVEY
  * §8.18): on the permuted-id chain corpus the full-span stream flags
  * equal the batch ALL-PAIRS est-gate's later-arriving sides exactly
  * (11,643/11,643, missed = 0, extra = 0) — all-pairs recall at
  * bounded-state cost, no rescue round to add. What the stream DOES trade is the horizon (members older
  * than `horizonMs` are pruned) and the hot-bucket cap; both losses
  * are bounded+counted, and the nightly batch closure catches them.
  * The horizon trade is measured from both sides (SURVEY §8.18): the
  * ALIGNED-arrival chain leg (dups arrive near each other — the
  * realistic ingest shape) loses NOTHING at a 10% horizon; only the
  * adversarial id-permutation (every neighbor a fixed large arrival
  * gap apart) defeats a too-short horizon.
  *
  * One doc explodes into `bands` bucket rows, so per-bucket verdicts
  * are combined per doc by [[decisions]] — ANY bucket match flags the
  * doc. `decisions` is a plain aggregation: run it inside
  * `foreachBatch` (the production sink shape: flag-and-land per
  * micro-batch) or as a downstream streaming aggregation where the
  * multi-stateful-operator rules allow.
  */
object StreamNearDup {

  /** One exploded band-bucket row of an incoming doc. `eventTime`
    * stays a Timestamp so the input watermark rides into the stateful
    * stage (projecting the watermarked column away would orphan the
    * event-time timeout). */
  final case class BandRow(docId: Long, bucket: String, sig: Array[Long],
                           eventTime: java.sql.Timestamp)

  /** Per-bucket verdict for one doc. `matchedId` = the member that
    * est-agreed (lowest id wins for determinism); `saturated` = the
    * bucket was at `maxMembers` when this doc arrived (detection
    * inside this bucket is best-effort from then on);
    * `prunedByHorizon` = bucket members this arrival aged out (their
    * eventMs fell past the horizon) — the horizon trade, counted at
    * the moment it forfeits a comparison, so [[recallLedger]] can
    * aggregate it instead of it vanishing silently. */
  final case class BandVerdict(docId: Long, bucket: String, eventMs: Long,
                               matchedId: Option[Long], saturated: Boolean,
                               prunedByHorizon: Int)

  /** State-store row types (public: the state encoder's generated
    * serializer must reach the accessors). */
  final case class Member(docId: Long, sig: Array[Long], eventMs: Long)
  final case class BucketState(members: List[Member])

  private def agree(a: Array[Long], b: Array[Long]): Int = {
    var i = 0; var n = 0
    val len = math.min(a.length, b.length)
    while (i < len) { if (a(i) == b(i)) n += 1; i += 1 }
    n
  }

  /** Explode a document stream into watermarked band-bucket rows using
    * the batch family's signature/banding expressions.
    *
    * @param docs    streaming DataFrame with `idCol` (long), `textCol`
    *                (string) and `tsCol` (TimestampType)
    * @param nBands  band count; `rowsPer` = rows per band — fixed at
    *                operator construction (production sizes from the
    *                prior corpus count via `minhashGeometryFor`)
    * @param delay   watermark delay: how late a doc may arrive AND the
    *                horizon dup-detection looks back across
    */
  def bandRows(docs: DataFrame, idCol: String, textCol: String, tsCol: String,
               nBands: Int, rowsPer: Int, delay: String): Dataset[BandRow] = {
    val sig = TextFns.minhashSignatureFromText(textCol, 3, 16)
    val bandExprs = (0 until nBands).map { b =>
      md5(concat_ws("|",
        (0 until rowsPer).map(r => col("__sig").getItem(b * rowsPer + r).cast("string")): _*))
    }
    implicit val enc = Encoders.product[BandRow]
    docs
      .withWatermark(tsCol, delay)
      .withColumn("__sig", sig)
      // a doc too short to shingle (< k tokens) has a signature of all
      // NULL positions (MinHashKernel's array_min semantics on an empty
      // set): it cannot participate in near-dup detection, and a null
      // element would violate the state encoder's non-nullable member
      // array — drop its band rows. Positions are null all-or-nothing,
      // so testing position 0 suffices.
      .where(col("__sig").getItem(0).isNotNull)
      .select(col(idCol).as("docId"),
        explode(array(bandExprs: _*)).as("bucket"),
        col("__sig").as("sig"),
        col(tsCol).as("eventTime"))
      .as[BandRow]
  }

  /** The stateful stage: per-bucket bounded membership + est-gate.
    *
    * @param horizonMs  how far back a member can match (normally the
    *                   watermark delay in ms — older members are pruned)
    * @param maxMembers hot-bucket cap on state per bucket
    * @param minAgree   est-gate threshold (of 16 signature positions)
    */
  def bandMatches(rows: Dataset[BandRow], horizonMs: Long,
                  maxMembers: Int = 128, minAgree: Int = 4): Dataset[BandVerdict] = {
    implicit val outEnc = Encoders.product[BandVerdict]
    implicit val stateEnc = Encoders.product[BucketState]

    def update(bucket: String, rows: Iterator[BandRow],
               state: GroupState[BucketState]): Iterator[BandVerdict] = {
      if (state.hasTimedOut) { state.remove(); return Iterator.empty }
      var members = state.getOption.map(_.members).getOrElse(Nil)
      // deterministic processing order within a micro-batch: by event
      // time then id, so "who was already a member" does not depend on
      // partition-internal row order
      val batch = rows.toSeq.sortBy(r => (r.eventTime.getTime, r.docId))
      val maxEventMs = batch.map(_.eventTime.getTime).foldLeft(
        members.headOption.map(_.eventMs).getOrElse(0L))(math.max)
      val out = batch.iterator.map { r =>
        val ms = r.eventTime.getTime
        // horizon prune (a counted recall forfeit) is separate from the
        // self-row replacement (bookkeeping, not a loss) — so exclude
        // the arriving doc's own prior row BEFORE counting: an aged
        // self-row is replacement bookkeeping too, not a forfeited
        // match (ADVICE r16 #4)
        val (live, aged) = members.filter(_.docId != r.docId)
          .partition(m => m.eventMs >= ms - horizonMs)
        members = live
        val hit = members.filter(m => agree(m.sig, r.sig) >= minAgree)
          .map(_.docId).sorted.headOption
        val full = members.size >= maxMembers
        if (!full) members = Member(r.docId, r.sig, ms) :: members
        BandVerdict(r.docId, bucket, ms, hit, full, aged.size)
      }.toVector
      state.update(BucketState(members))
      // evict the whole bucket once the watermark passes the last
      // member's horizon — state is bounded by the active-bucket set.
      // Clamp above the current watermark: a group fed only
      // late-but-admitted rows could otherwise compute a timeout the
      // watermark has already passed, which the API rejects.
      state.setTimeoutTimestamp(
        math.max(maxEventMs + horizonMs, state.getCurrentWatermarkMs() + 1))
      out.iterator
    }

    rows.groupByKey(_.bucket)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(update)
  }

  /** Combine per-bucket verdicts into one per-doc decision: a doc is a
    * near-dup CANDIDATE if any of its band buckets matched a live
    * member. Plain aggregation — run inside `foreachBatch` (per
    * micro-batch flag-and-land) or downstream of [[bandMatches]] where
    * streaming-aggregation chaining allows. */
  def decisions(verdicts: Dataset[BandVerdict]): DataFrame =
    verdicts.groupBy(col("docId"), col("eventMs"))
      .agg(min(col("matchedId")).as("matched_id"),
        max(col("saturated")).as("any_bucket_saturated"))
      .withColumn("is_near_dup", col("matched_id").isNotNull)

  /** Per-window recall-forfeit ledger (VERDICT r15 #5): aggregates how
    * much detection capacity a stream configuration gave up, per
    * tumbling event-time window — the metrics-level twin of the
    * per-row `saturated` flag, so "no silent caps" holds for the
    * OPERATOR, not just each row:
    *
    *  - `buckets_saturated`  — distinct band buckets that refused at
    *    least one admission in the window (at `maxMembers` when a doc
    *    arrived); detection in those buckets was best-effort;
    *  - `arrivals_at_cap`    — band-row arrivals not admitted as
    *    members (each is a doc a LATER near-dup can no longer match
    *    against in that bucket);
    *  - `members_pruned_by_horizon` — bucket members aged out by the
    *    horizon at match time (bucket-member granularity: one doc
    *    spans `nBands` buckets, so a fully-aged doc counts once per
    *    bucket it lived in);
    *  - `band_rows` / `docs_seen` — denominators for rate alarms.
    *
    * Plain aggregation over [[bandMatches]] output — run it inside
    * `foreachBatch` next to [[decisions]] (the production sink shape)
    * or as a downstream windowed streaming aggregation. A healthy
    * steady state is all-zero loss columns; a sustained nonzero rate
    * is the signal to widen `maxMembers`/horizon or re-band. */
  def recallLedger(verdicts: Dataset[BandVerdict], windowDur: String): DataFrame =
    verdicts
      .groupBy(window(timestamp_millis(col("eventMs")), windowDur).as("win"))
      .agg(
        count_distinct(when(col("saturated"), col("bucket"))).as("buckets_saturated"),
        sum(when(col("saturated"), 1L).otherwise(0L)).as("arrivals_at_cap"),
        sum(col("prunedByHorizon")).cast("long").as("members_pruned_by_horizon"),
        count(lit(1)).as("band_rows"),
        count_distinct(col("docId")).as("docs_seen"))
      .select(col("win.start").as("window_start"), col("win.end").as("window_end"),
        col("buckets_saturated"), col("arrivals_at_cap"),
        col("members_pruned_by_horizon"), col("band_rows"), col("docs_seen"))

  /** End-to-end convenience: docs → band rows → stateful est-gate.
    * Callers aggregate with [[decisions]] at the sink. */
  def nearDupVerdicts(docs: DataFrame, idCol: String, textCol: String,
                      tsCol: String, nBands: Int, rowsPer: Int, delay: String,
                      horizonMs: Long, maxMembers: Int = 128,
                      minAgree: Int = 4): Dataset[BandVerdict] =
    bandMatches(bandRows(docs, idCol, textCol, tsCol, nBands, rowsPer, delay),
      horizonMs, maxMembers, minAgree)
}
