package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The verified-closure dedup family as reusable library pieces.
  *
  * The pipeline shape (reference behavior: near-dup document dedup over
  * MinHash band buckets, cf. the reference's dedup utilities):
  *
  *   band buckets → candidate pairs → estimate gate → exact verify
  *   → connected components
  *
  * Three candidate policies bracket the cost/recall space:
  *
  *  - ALL-PAIRS (`allPairCandidates`): every intra-bucket pair. Exact
  *    recall under the banding; pair volume is quadratic in duplicate-
  *    cluster size (a 100-member cluster → 4,950 pairs per bucket).
  *  - STAR (`starCandidates`): only (bucket-min, member) pairs —
  *    m−1 pairs for an m-member bucket. Cluster members still merge
  *    transitively THROUGH a verified min; recall is lost only for a
  *    true-dup pair whose EVERY shared bucket has a non-duplicate min
  *    (a false collision occupying the min slot in all bands at once —
  *    the intersection of `bands` independent events). DedupOpsSpec
  *    constructs exactly that case; on both real test corpora the star
  *    assignment is identical to all-pairs (sf0.01: 476/476
  *    components, sf10: 5,268/5,268, zero docs differ).
  *
  *    MEASURED DOMAIN BOUNDARY (SURVEY §8.16, r13; rescue measured
  *    r14, §8.17): the equality holds for CLUSTER-shaped duplicate
  *    structure (verbatim/variant groups — every member is a true dup
  *    of every other, so any bucket-min is a valid hub). On CHAIN-shaped
  *    structure (adjacent-overlap near-dups where skip-one members
  *    co-bucket but fail the exact verify) star loses real recall:
  *    56.2% vs 51.0% pair recall at 500k docs (81.3% vs 74.6% at 20k
  *    with denser banding) — the bucket-min is a chain member that is
  *    NOT a dup of the far members, and verified (min, member) edges
  *    cannot bridge them.
  *
  *    [[verifiedStarRescueEdges]] (r14) closes most of that boundary:
  *    one agreement-ranked rescue round recovers the chain gap to
  *    within 0.26 pts of all-pairs at 500k (55.96% vs 56.22%; 80.9% vs
  *    81.3% at 20k) while keeping ALL of star's cluster savings —
  *    on the 50k cluster corpus star+rescue's exact-verify volume is
  *    EXACTLY star's (18.2% of all-pairs; zero rescue pairs fire,
  *    because rescue only triggers on failed star edges). On chains
  *    the combined volume ≈ all-pairs (96.9% at 500k) — chains bucket
  *    in pairs, so star never had savings there to preserve.
  *    Policy: all-pairs stays the high-recall default (it is still
  *    0.26–0.45 pts ahead on chains); choose star+rescue over PLAIN
  *    star whenever choosing the cheap policy — same cost where star
  *    is cheap, near-closes the gap where star loses recall.
  *  - INCIDENT (`incidentCandidates`): pairs with at least one endpoint
  *    in a marked increment — the daily-tick policy; composes with
  *    [[GraphOps.incrementalComponents]].
  *
  * Inputs are prepared frames so the policies are testable without the
  * text pipeline: `bands` = (doc_id, sig, bucket [, is_new]) — one row
  * per document per band bucket, `sig` the MinHash signature array.
  * All functions are pure plan builders (no actions, no caching) —
  * callers own materialization boundaries.
  *
  * INVARIANT every candidate policy shares: the output MAY contain
  * duplicate (id_a, id_b) rows — a pair colliding in k band buckets (or
  * a doc hashing two bands to one bucket string) appears k times.
  * [[verifiedEdges]] dedups AFTER the estimate gate, by design: the
  * gate is a cheap codegen'd comparison evaluated per duplicate row
  * pre-shuffle, which is cheaper than the `distinct()` shuffle a
  * dedup-on-entry would add to every policy. A caller consuming a
  * candidate policy WITHOUT verifiedEdges must `distinct()` (or
  * aggregate) itself — counting raw candidate rows double-counts pairs.
  */
object DedupOps {

  /** Every intra-bucket pair, ordered (id_a < id_b), signatures carried
    * for the estimate gate. */
  def allPairCandidates(bands: DataFrame): DataFrame =
    bands.select(col("doc_id").as("id_a"), col("sig").as("sig_a"), col("bucket"))
      .join(bands.select(col("doc_id").as("id_b"), col("sig").as("sig_b"), col("bucket")),
        Seq("bucket"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "sig_a", "id_b", "sig_b")

  /** Only (bucket-min, member) pairs — linear in bucket occupancy. */
  def starCandidates(bands: DataFrame): DataFrame = {
    val bmin = bands.groupBy("bucket").agg(min(col("doc_id")).as("id_a"))
    val minSig = bands.select(col("doc_id").as("id_a"), col("bucket"),
      col("sig").as("sig_a"))
    bands.join(bmin, Seq("bucket"))
      .where(col("id_a") < col("doc_id"))
      .join(minSig, Seq("bucket", "id_a"))
      .select(col("id_a"), col("sig_a"), col("doc_id").as("id_b"), col("sig").as("sig_b"))
  }

  /** Pairs with at least one endpoint marked `is_new` — the increment's
    * candidate set. {new,new} pairs arise in both orientations and are
    * normalized to (id_a < id_b); the downstream distinct dedups them. */
  def incidentCandidates(bands: DataFrame): DataFrame = {
    val nb = bands.where(col("is_new"))
    val raw = nb
      .select(col("doc_id").as("id_a"), col("sig").as("sig_a"), col("bucket"))
      .join(bands.select(col("doc_id").as("id_b"), col("sig").as("sig_b"), col("bucket")),
        Seq("bucket"))
      .where(col("id_a") =!= col("id_b"))
    raw.select(
      when(col("id_a") < col("id_b"), col("id_a")).otherwise(col("id_b")).as("id_a"),
      when(col("id_a") < col("id_b"), col("sig_a")).otherwise(col("sig_b")).as("sig_a"),
      when(col("id_a") < col("id_b"), col("id_b")).otherwise(col("id_a")).as("id_b"),
      when(col("id_a") < col("id_b"), col("sig_b")).otherwise(col("sig_a")).as("sig_b"))
  }

  /** STAR plus ONE rescue round — the chain-recall repair for the star
    * policy (VERDICT r13 #4). Star's measured loss mode
    * (SURVEY §8.16): on CHAIN-shaped near-dups the bucket-min is
    * often a member that is NOT a true dup of the far members, so its
    * (min, member) edges fail the exact verify and the chain never
    * bridges. Rescue: every member whose star edge FAILED verify is
    * re-paired with its HIGHEST-SIGNATURE-AGREEMENT partner among the
    * bucket's other non-hub members and verified once more. Agreement
    * is the est-gate kernel (`graft_sig_agree`, whole-stage codegen) —
    * scoring a failed member against its bucket is the CHEAP stage;
    * the expensive exact shingle verify stays capped at ONE pair per
    * failed (bucket, member). A true chain neighbor has the highest
    * expected agreement in the bucket (its Jaccard is the largest), so
    * top-1-by-agreement finds it wherever it co-buckets.
    *
    * Cost bound: exact-verify volume ≤ star volume + |failed| < 2× star
    * — linear in bucket occupancy, never quadratic. A predecessor-by-id
    * rescue was measured first and REJECTED: on the 20k chain corpus it
    * recovered only 1.9 of the 6.7-pt gap at 96.8% of all-pairs verify
    * volume (ids are unordered within a bucket, so the predecessor is a
    * random member); agreement-ranked rescue is the one that works —
    * see the r14 annex table for the measured recall/volume.
    *
    * Returns verified undirected edges (src, dst) — the drop-in
    * replacement for `verifiedEdges(starCandidates(bands), sh)`. */
  def verifiedStarRescueEdges(bands: DataFrame, shingles: DataFrame,
                              minAgree: Int = 4, jacNum: Int = 1,
                              jacDen: Int = 3): DataFrame = {
    val starEdges = verifiedEdges(starCandidates(bands), shingles,
      minAgree, jacNum, jacDen)
    starEdges
      .unionByName(verifiedEdges(starRescueCandidates(bands, starEdges),
        shingles, minAgree, jacNum, jacDen))
      .distinct()
  }

  /** The rescue round's candidate pairs, given the already-verified
    * star edges: for each (bucket, member) whose star edge failed, the
    * ONE other non-hub member with the highest signature agreement
    * (ties broken by smallest partner id — deterministic). Exposed
    * separately so probes can meter the round's verify volume with the
    * same derivation the operator uses. Requires
    * [[graft.functions.NativeVectorExprs]] registered on the session
    * (same prerequisite as [[verifiedEdges]]). */
  def starRescueCandidates(bands: DataFrame, starEdges: DataFrame): DataFrame = {
    // distinct members per bucket: a doc whose two bands hash to one
    // bucket string must not partner with itself
    val members = bands.select(col("bucket"), col("doc_id"), col("sig"))
      .dropDuplicates("bucket", "doc_id")
    val hubs = bands.groupBy("bucket").agg(min(col("doc_id")).as("hub"))
    val failed = members.join(hubs, Seq("bucket"))
      .where(col("doc_id") > col("hub"))
      .join(starEdges.select(col("src").as("hub"), col("dst").as("doc_id")),
        Seq("hub", "doc_id"), "left_anti")
    // score against every other non-hub member — the codegen'd cheap
    // stage; only the top-1 partner proceeds to the exact verify
    val partners = members.select(col("bucket"), col("doc_id").as("pid"),
      col("sig").as("psig"))
    val w = Window.partitionBy("bucket", "doc_id")
      .orderBy(col("agree").desc, col("pid").asc)
    failed.join(partners, Seq("bucket"))
      .where(col("pid") =!= col("doc_id") && col("pid") =!= col("hub"))
      .withColumn("agree", expr("graft_sig_agree(sig, psig)"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(
        when(col("pid") < col("doc_id"), col("pid")).otherwise(col("doc_id")).as("id_a"),
        when(col("pid") < col("doc_id"), col("psig")).otherwise(col("sig")).as("sig_a"),
        when(col("pid") < col("doc_id"), col("doc_id")).otherwise(col("pid")).as("id_b"),
        when(col("pid") < col("doc_id"), col("sig")).otherwise(col("psig")).as("sig_b"))
  }

  /** Estimate-gate then exact-verify candidate pairs into edges.
    *
    * Gate 1 (cheap, whole-stage codegen, BEFORE the pair-dedup
    * shuffle): signature agreement `graft_sig_agree(sig_a, sig_b) >=
    * minAgree` — requires [[graft.functions.NativeVectorExprs]]
    * registered on the session. Gate 2 (exact, integer arithmetic —
    * no float-threshold ulp hazard): shingle-set Jaccard
    * `i * jacDen >= (|a| + |b|) * jacNum` with `i >= 1`, i.e.
    * J = i/(|a|+|b|-i) >= jacNum/(jacDen - jacNum) for the default
    * (1, 3) → J >= 0.5.
    *
    * @param cand     (id_a, sig_a, id_b, sig_b), id_a < id_b
    * @param shingles (doc_id, sh) — shingle-hash arrays for exact verify
    * @return verified undirected edges (src, dst)
    */
  def verifiedEdges(cand: DataFrame, shingles: DataFrame,
                    minAgree: Int = 4, jacNum: Int = 1, jacDen: Int = 3): DataFrame = {
    val survivors = cand
      .where(expr("graft_sig_agree(sig_a, sig_b)") >= minAgree)
      .select("id_a", "id_b").distinct()
    val sa = shingles.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val sb = shingles.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    survivors.join(sa, Seq("id_a")).join(sb, Seq("id_b"))
      .withColumn("i", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("ssum", (size(col("sh_a")) + size(col("sh_b"))).cast("long"))
      .where(col("i") >= 1 && col("i") * jacDen >= col("ssum") * jacNum)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
  }
}
