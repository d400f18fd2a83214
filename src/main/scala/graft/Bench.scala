package graft

/** Benchmark main — runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Each query is fully materialized with a noop-format write (count()
  * would let Catalyst prune the projections and undercount the real
  * work). One warm-up query runs first so JVM/classloader startup isn't
  * billed to the first query measured.
  *
  * Each query is sampled SPARK_GRAFT_SAMPLES times (default 3) and the
  * reported per-query number is the MEDIAN — one contended sample (GC
  * pause, a background build on the same machine) no longer distorts
  * the official total.
  *
  * Output contract (two rounds of driver captures truncated a single
  * giant line — head once, tail once): stdout carries the medians-only
  * headline line FIRST, then the same medians again as numbered part
  * lines of ~20 queries each (`"metric":"part","part":"i/n"`), then the
  * headline line once more, then — as the very last line the process
  * writes to EITHER stream — a compact (<200 char) summary that always
  * survives the driver's merged-stream tail window. Any single clipped
  * line — head or tail — is recoverable from the others; every line
  * stays well under 1 KB. The full JSON (medians + raw per-sample
  * values) is also written to BENCH_LOCAL.json in the working
  * directory so a skewed run stays inspectable after the fact.
  *
  * Queries in [[SparkEntry.oracleOnly]] (the intentionally-quadratic
  * exact-accuracy baselines) are excluded — the correctness gate still
  * checks them; timing the documented anti-pattern is not a signal.
  *
  * The ledger is SPLIT (VERDICT r14 #6): alongside the all-rows
  * `value`, every summary line carries `total_queries` (timed minus
  * [[SparkEntry.engineRoundtrip]]), `total_engine` (the roundtrip rows
  * alone), and `comparable` — the PINNED r13-era 88-query subtotal
  * ([[SparkEntry.benchAddedAfterR13]] names everything born since), so
  * round-over-round comparison is one field, not manual subtraction.
  *
  * `runMain graft.Bench --solo <query> [samples]` pins ONE query with an
  * isolated 10-sample run (after the standard warm-up) — the drift-
  * pinning protocol that has separated contention from regression three
  * times, as a one-command reproduction.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // `--solo <query> [samples]`: pin one query with a 10-sample isolated
    // run (median + min + max + all samples printed). Contention on the
    // shared box has explained three "regressions" across four rounds
    // (p3, qagg, mm_*); this makes the pinning protocol a one-command
    // reproduction instead of a hand-built harness each time.
    val soloIdx = args.indexOf("--solo")
    val solo = if (soloIdx >= 0) args.lift(soloIdx + 1) else None
    require(soloIdx < 0 || solo.nonEmpty, "--solo needs a query name")
    val soloSamples = if (soloIdx >= 0)
      args.lift(soloIdx + 2).flatMap(_.toIntOption).getOrElse(10) else 0
    val spark = GraftSession.local(GraftSession.envCpus)

    def run(name: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    // warm-up: JVM + parquet footer caches (not reported). One cheap
    // query per hot table — with a single-table warm-up, the
    // alphabetically-first heavy query on each OTHER table silently
    // paid the codegen-JIT + page-cache cost its later siblings skipped
    // (measured: dedup_cc_autosize, first documents reader in the run,
    // looked ~25% worse than the identical pipeline run second).
    run("s1_pruned_scan_agg") // lineitem
    run("txt_langid")         // documents
    run("ann_sq8_quantize")   // embeddings
    run("s2_minmax_ts")       // events

    if (solo.isDefined) {
      val q = solo.get
      require(SparkEntry.queries.contains(q), s"unknown query: $q")
      val samples = Seq.fill(soloSamples)(run(q))
      val ok = samples.filter(_ >= 0).sorted
      def ms3(v: Double) = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)
      val med = if (ok.isEmpty) -1.0 else ok((ok.size - 1) / 2)
      // summary is the LAST line either stream sees (after spark.stop's
      // shutdown stderr) — same last-line contract as the full-run path
      spark.stop()
      println(s"""{"metric":"solo","query":"$q","median":${ms3(med)},""" +
        s""""min":${ms3(ok.headOption.getOrElse(-1.0))},"max":${ms3(ok.lastOption.getOrElse(-1.0))},""" +
        s""""samples":[${samples.map(ms3).mkString(",")}],"sf":"$sfDir"}""")
      if (ok.size < samples.size) sys.exit(3)
      return
    }

    // SPARK_GRAFT_ONLY=a,b,c restricts the run (local iteration only;
    // the driver never sets it, so the reported bench covers everything).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val nSamples = sys.env.get("SPARK_GRAFT_SAMPLES")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(3)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
      .filterNot(SparkEntry.oracleOnly)
    val results = names.map { n =>
      val samples = Seq.fill(nSamples)(run(n))
      // ANY failed sample (-1) marks the query failed — a median of 3
      // with one failure otherwise reports a healthy number and the
      // intermittent failure stays masked (round-9 lesson). The median
      // of the SUCCESSFUL samples is kept for timing context, but the
      // reported value is -1 so the headline total is poisoned too.
      val ok = samples.filter(_ >= 0)
      val median =
        if (ok.size < samples.size) -1.0
        else ok.sorted.apply((ok.size - 1) / 2)
      (n, median, samples)
    }
    // ms precision in the JSON: full doubles double the line length and
    // the driver's capture buffer has truncated the tail in past rounds —
    // sub-ms digits carry no information at these runtimes anyway
    def ms(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + ms(v) }
      .mkString("{", ",", "}")
    val raw = results.map { case (k, _, s) =>
      "\"" + k + "\":[" + s.map(ms).mkString(",") + "]" }.mkString("{", ",", "}")
    val failed = results.filter(_._2 < 0).map(_._1)
    // a run with ANY failed query reports an INVALID total (-1): summing
    // only the survivors silently masks a regression as a speedup when
    // round-over-round totals are compared (round-9 lesson).
    val total = if (failed.nonEmpty) -1.0 else results.map(_._2).sum
    // Split ledger (VERDICT r14 #6): `total_queries` excludes the
    // engine-roundtrip rows (their wall prices write machinery, not a
    // query); `total_engine` is those rows alone; `comparable` is the
    // PINNED r13-era query set — the one number that is
    // round-over-round comparable without manual subtraction.
    def subtotal(p: String => Boolean): Double =
      if (failed.exists(p)) -1.0
      else results.collect { case (n, v, _) if p(n) => v }.sum
    val totalQueries = subtotal(n => !SparkEntry.engineRoundtrip(n))
    val totalEngine = subtotal(SparkEntry.engineRoundtrip)
    val comparable = subtotal(n =>
      !SparkEntry.engineRoundtrip(n) && !SparkEntry.benchAddedAfterR13(n))
    val splits = s""""total_queries":${ms(totalQueries)},""" +
      s""""total_engine":${ms(totalEngine)},"comparable":${ms(comparable)}"""
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val medians =
      s"""{"metric":"total","value":${ms(total)},$splits,"unit":"sec","queries":$qs,"failed":$failedJson,"sf":"$sfDir"}"""
    val full =
      s"""{"metric":"total","value":${ms(total)},$splits,"unit":"sec","queries":$qs,"failed":$failedJson,"samples":$raw,"sf":"$sfDir"}"""
    println(medians)
    val parts = results.grouped(20).toSeq
    parts.zipWithIndex.foreach { case (grp, i) =>
      val pqs = grp.map { case (k, v, _) => "\"" + k + "\":" + ms(v) }
        .mkString("{", ",", "}")
      println(s"""{"metric":"part","part":"${i + 1}/${parts.size}","queries":$pqs}""")
    }
    println(medians)
    // BENCH_LOCAL.json is the round's FULL-ledger artifact — a
    // SPARK_GRAFT_ONLY subset run (local iteration, scale probes) must
    // not clobber it with an apples-to-oranges partial (it did, twice);
    // partial runs land in BENCH_LOCAL_partial.json instead
    val ledger = if (only.isEmpty) "BENCH_LOCAL.json" else "BENCH_LOCAL_partial.json"
    try java.nio.file.Files.write(java.nio.file.Paths.get(ledger),
      (full + "\n").getBytes("UTF-8"))
    catch { case e: Exception => System.err.println(s"[bench] $ledger write failed: ${e.getMessage}") }
    spark.stop()
    if (failed.nonEmpty)
      System.err.println(s"[bench] FAILED queries: ${failed.mkString(", ")}")
    // The driver's capture keeps only the LAST ~2000 chars of MERGED
    // stdout+stderr; the full headline (~2.3 KB for 84+ queries) never
    // fits, so its `parsed` field was null for four rounds (r11's stderr
    // samples line landed AFTER the summary in the merged stream and
    // clipped it). The compact summary (<200 chars) is therefore the very
    // LAST thing this process writes to either stream — after the
    // BENCH_LOCAL.json write, spark.stop(), and the failure report.
    // Per-query medians remain in the headline/part lines above and
    // per-sample values in BENCH_LOCAL.json.
    println(s"""{"metric":"total","value":${ms(total)},$splits,"unit":"sec","nq":${results.size},"nfailed":${failed.size},"detail":"$ledger","sf":"$sfDir"}""")
    if (failed.nonEmpty)
      sys.exit(3) // nonzero rc so exit-code gating can't green-light a bad run
  }
}
