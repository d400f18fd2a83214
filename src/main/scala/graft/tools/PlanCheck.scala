package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Plan-quality audit, two layers:
  *
  *  1. [[auditWindows]] — EVERY query in [[graft.SparkEntry.queries]] is
  *     planned and its physical tree scanned for partition-unbounded
  *     window operators (empty `partitionSpec` ⇒ the whole input sorts
  *     through ONE task — the classic silent scale-killer). Queries on
  *     [[UnpartitionedWindowWhitelist]] are allowed (bounded by API
  *     contract or intentionally single-series); anything else fails.
  *     Window partitioning is static — AQE never changes a
  *     `partitionSpec` — so the audit inspects unexecuted plans and
  *     stays cheap enough to run in `sbt test` (PlanCheckSpec) over the
  *     full query set.
  *
  *  2. `main` — for a curated set of headline queries, executes the
  *     query (AQE plans report `isFinalPlan=false` and no codegen
  *     markers before execution) and prints condensed facts: filter
  *     pushdown, join strategies, partial aggregation, whole-stage
  *     codegen span count, shuffle count.
  *
  * Run: `sbt "runMain graft.tools.PlanCheck [sfDir]"` — exits nonzero
  * on a window-audit violation. */
object PlanCheck {

  /** Queries allowed to keep a partition-unbounded window, each with the
    * reason it is NOT a scale hazard. Two legitimate classes:
    *
    *  - **API-bounded result sets** (reference contract ≤ 500 bars: the
    *    window runs over a frame a driver could hold, not the lake):
    *    `qagg_aggregate_15m` (tail + delta fields over ≤ limit bars),
    *    `native_enrich_route` (200-bar native API window),
    *    `mb_canonical_build` (one symbol-hour canonical build, ≤ 180
    *    rows), `ind_pivot_points` (30 indicator bars).
    *  - **Single-series operator forms** whose operators take
    *    `partitionCols` for the keyed lake-scale shape (pinned by the
    *    multi-symbol specs) but whose oracle query exercises the
    *    single-series default: `w5_bounded_ffill`, `j3_align_close`.
    *
    * Growing this list needs one of those two justifications — anything
    * else is a one-task sort at 100 TB and must pass partition keys. */
  val UnpartitionedWindowWhitelist: Set[String] = Set(
    "qagg_aggregate_15m", "native_enrich_route", "mb_canonical_build",
    "ind_pivot_points", "w5_bounded_ffill", "j3_align_close")

  /** Every operator of `plan` in pre-order, descending through AQE
    * wrappers, query stages, and reused exchanges — after execution an
    * AQE plan shows its final stages, exchanges included. */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case n => n +: n.children.flatMap(nodes)
  }

  /** Partition-unbounded window operators in `plan` ([[nodes]]). */
  def unpartitionedWindows(plan: SparkPlan): Seq[String] = nodes(plan).collect {
    case w: WindowExec if w.partitionSpec.isEmpty => w.simpleString(80)
    case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => w.simpleString(80)
  }

  /** Audit every SparkEntry query; returns (query → offending windows)
    * for queries NOT on the whitelist. Empty map = pass. */
  def auditWindows(spark: SparkSession, sfDir: String): Map[String, Seq[String]] =
    graft.SparkEntry.queries.flatMap { case (name, fn) =>
      val wins = unpartitionedWindows(fn(spark, sfDir).queryExecution.executedPlan)
      if (wins.nonEmpty && !UnpartitionedWindowWhitelist.contains(name))
        Some(name -> wins)
      else None
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession.local(Runtime.getRuntime.availableProcessors)

    // layer 1: every query, window-partitioning gate
    val violations = auditWindows(spark, sfDir)
    println(s"== window audit: ${graft.SparkEntry.queries.size} queries, " +
      s"${violations.size} violations " +
      s"(whitelist: ${UnpartitionedWindowWhitelist.toSeq.sorted.mkString(", ")})")
    violations.toSeq.sortBy(_._1).foreach { case (name, wins) =>
      println(s"   FAIL $name")
      wins.foreach(w => println(s"        $w"))
    }

    val interesting = Seq(
      "s1_pruned_scan_agg", "j9_star_join_revenue", "a1_minute_trade_agg",
      "htf_aggregate_1h", "qagg_aggregate_15m", "j1_spine_left_join",
      "j2_asof_tolerance", "ann_cosine_topk", "dedup_ngram_jaccard",
      "dedup_minhash_pairs", "dedup_embed_cosine", "a8_indicator_ohlc",
      "s14_top200_recent", "w5_bounded_ffill",
      "native_enrich_route", "ivf_kmeans_train", "dedup_embed_lsh",
      "dedup_ngram_jaccard_capped",
      "txt_tfidf_bm25", "txt_decontaminate", "txt_repetition_rules",
      "txt_pack_sequences", "ann_sq8_search", "ann_lsh_recall",
      "ann_lsh_autosize", "ann_ivf_recall", "ivf_kmeans_sample_train",
      "dedup_minhash_autosize", "dedup_cc_autosize", "dedup_embed_lsh_sq8",
      "dedup_cc_incremental", "dedup_minhash_pairs_est", "j9_star_join_bucketed")

    for (name <- interesting) {
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      // Execute the dataset's OWN QueryExecution so its AdaptiveSparkPlan
      // finalizes (a write would clone the plan into a new execution and
      // leave this one at isFinalPlan=false).
      df.queryExecution.toRdd.count()
      val plan = df.queryExecution.executedPlan.toString
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      def count(s: String) = s.r.findAllMatchIn(plan).size
      def has(s: String) = if (plan.contains(s)) "Y" else "-"
      // whole-stage codegen prints as "*(id) Operator" in tree strings
      val codegenIds = "\\*\\((\\d+)\\)".r.findAllMatchIn(plan)
        .map(_.group(1).toInt).toSet.size
      val pushed = "PushedFilters: \\[[^\\]]*[A-Za-z][^\\]]*\\]".r
        .findFirstIn(formatted).map(_.take(90)).getOrElse("none")
      println(s"== $name")
      println(s"   bhj=${has("BroadcastHashJoin")} smj=${has("SortMergeJoin")} " +
        s"bnlj=${has("BroadcastNestedLoopJoin")} cartesian=${has("CartesianProduct")} " +
        s"partialAgg=${has("partial_")} topK=${has("TakeOrderedAndProject")}")
      println(s"   codegenSpans=$codegenIds " +
        s"shuffles=${count("Exchange hashpartitioning") + count("Exchange rangepartitioning") +
          count("Exchange SinglePartition")} " +
        s"rowToColumnar=${count("ColumnarToRow")}")
      println(s"   $pushed")
    }
    spark.stop()
    if (violations.nonEmpty) sys.exit(1)
  }
}
