package lakebench

import java.time.Instant
import java.time.temporal.ChronoUnit

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.AggregatorRunner.IncrementalResult

/** Benchmark JVM: one workload, one seed, one run. Prints one line,
  * `LAKEBENCH {json}`, for `run.py` to complete and re-emit.
  *
  * Every workload runs every layer, so that every run reports every
  * metric: set-up, bulk write and fleet backfill, one hourly cycle, the
  * API, the analytics batch and maintenance. The workloads differ in
  * what the API reads: `serve_overlay` serves while the cycle's late
  * patch is still a delta file, `serve_compacted` compacts the deltas
  * first. The sizes keep a cold-JVM run under a minute on a 4-core box
  * (see README). */
object Main {
  val Workloads: Set[String] = Set("serve_overlay", "serve_compacted")

  val Symbols = Seq("BTCUSDT", "ETHUSDT")
  val Days = 2
  val Fleet = Seq("15m")
  /** Timed input generations per run; `setup_s` is their median. The
    * first runs in a cold JVM, the others in a warm one. */
  val Setups = 2
  /** Steady polls after the cycle's tick: more ticks that must
    * token-skip. */
  val SteadyPolls = 200
  /** Timed passes of the analytics batch, after one warm-up pass;
    * `batch_cpu_s` is their median. */
  val BatchPasses = 1
  val Clients = 2
  // a Monday, so calendar buckets have real boundaries inside the history
  val Start: Instant = Instant.parse("2026-01-05T00:00:00Z")

  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def nearestRank(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN else s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  private def javaThreadCpuNs(): Map[Long, Long] =
    threads.getAllThreadIds.map(id => id -> threads.getThreadCpuTime(id)).toMap

  /** CPU seconds the JVM's Java threads (driver, Spark tasks and Spark's
    * own threads) spend while `body` runs. JIT compiler and GC threads
    * are not Java threads and are not counted: how much compiling falls
    * inside one stage moves from run to run. A thread that ends inside
    * `body` loses its share; Spark's pools keep theirs alive for a
    * minute. Stage metrics are CPU time, not wall time: on a shared box
    * other tenants stretch the wall clock by a third from run to run. */
  def cpu[T](body: => T): (T, Double) = {
    val before = javaThreadCpuNs()
    val r = body
    val ns = javaThreadCpuNs().iterator.collect {
      case (id, t) if t >= 0 => t - math.max(0L, before.getOrElse(id, 0L))
    }.filter(_ > 0).sum
    (r, ns / 1e9)
  }

  /** CPU seconds of the calling thread alone while it runs `body`. */
  def threadCpu[T](body: => T): (T, Double) = {
    val t0 = threads.getCurrentThreadCpuTime
    val r = body
    (r, (threads.getCurrentThreadCpuTime - t0) / 1e9)
  }

  /** The session every run uses: local[nproc], the `graft.Bench` confs,
    * scratch space inside the run's work dir; a traced session also
    * counts filesystem operations. */
  def session(work: String, traced: Boolean): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val builder = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (traced) builder
      .config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
      .config("spark.hadoop.fs.file.impl.disable.cache", "true")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    Log.progress("jvm up")
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workloads(workload), s"unknown workload $workload")
    val traced = opts.get("trace").contains("1")
    val spark = session(opts("work"), traced)
    Log.progress("session up")
    val run = new Run(spark, if (traced) Tracer.on(spark) else Tracer.off,
      compactFirst = workload == "serve_compacted", opts("seed").toLong, opts("work"),
      opts("corpus"))
    run.all()
    spark.stop()
    println("LAKEBENCH " + run.json)
  }

  /** One run of one workload: its stages, checks and metrics. */
  final class Run(spark: SparkSession, tracer: Tracer, compactFirst: Boolean, seed: Long,
                  work: String, corpus: String) {
    private var attempted = 0L
    private val failures = mutable.ArrayBuffer.empty[String]
    private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    private val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
    private var tickScanned = 0L
    private var tickWritten = 0L
    private var steadyScanned = 0L
    private var requests = 0
    val oracleDir = s"$work/oracle"

    /** An operation of the program; a throw counts as a failure. */
    private def op[T](what: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(body)
      catch {
        case e: Throwable =>
          failures += s"$what: ${e.toString.take(300)}"
          None
      }
    }

    /** A correctness check, untimed; it returns its failures. */
    private def check(what: String)(body: => Seq[String]): Unit = {
      attempted += 1
      val bad = try tracer.span("bench.check")(body)
                catch { case e: Throwable => Seq(s"$what: ${e.toString.take(300)}") }
      if (bad.nonEmpty) failures += s"$what: ${bad.take(3).mkString("; ")}"
    }

    /** Opens an input frame (its schema read runs jobs) outside the
      * program's spans. */
    private def input[T](body: => T): T = tracer.span("bench.setup")(body)

    private def countTick(rs: Seq[(String, IncrementalResult)]): Unit = {
      tickScanned += rs.map(_._2.bucketsScanned).sum
      tickWritten += rs.map(_._2.bucketsWritten).sum
    }

    /** The whole run: set-up, the lake's build, one hourly cycle, the API
      * and the analytics batch (before or after compaction, by workload),
      * the rest of maintenance, then every check. */
    def all(): Unit = {
      // set-up: generate and materialize the inputs, several times
      val gen = Gen(seed, Symbols, Start, Days)
      val setups = (0 until Setups).map { k =>
        cpu(tracer.span("bench.setup")(
          Inputs.materialize(spark, gen, hours = 1, s"$work/inputs$k")))
      }
      val in = setups.last._1
      metrics("setup_s") = (median(setups.map(_._2)), "s")
      Log.progress(s"set-up ${setups.map(x => f"${x._2}%.2f").mkString(" ")} s")

      // the lake: bulk write of the history, then the fleet backfill
      val lake = new Lake(spark, s"$work/lake", Fleet, Days * 1440L, tracer)
      val history = input(in.history(spark))
      val (_, writeS) = cpu(op("bulk write")(lake.bulkWrite(history)))
      val (_, backfillS) = cpu(op("backfill")(lake.backfillAll()))
      metrics("backfill_cpu_s") = (writeS + backfillS, "s")

      cycle(in, lake)
      val (_, compactS) = if (compactFirst) cpu(op("compact")(lake.compact())) else (None, 0.0)
      val head = gen.hourStart(1).minus(1, ChronoUnit.MINUTES)
      val served = serve(gen, lake, head)
      batch()
      val cutoff = Start.plus(1, ChronoUnit.DAYS)
      var audit: Option[Seq[graft.sources.PartitionAuditResult]] = None
      val (_, maintS) = cpu {
        if (!compactFirst) op("compact")(lake.compact())
        op("retention")(lake.retention(cutoff))
        audit = op("audit")(lake.audit())
      }
      metrics("maintenance_cpu_s") = (compactS + maintS, "s")
      val lakeBytes = Seq("futures", "htf", "_state", "_aggstate")
        .map(d => Lake.du(spark, s"${lake.root}/$d")).sum
      val userBytes = in.userBytes(spark)
      metrics("bytes_per_user_byte") = (lakeBytes.toDouble / userBytes, "ratio")
      Log.progress("maintenance")

      // checks, outside every timed region
      val expected = tracer.span("bench.check")(
        Checks.expectedMinutes(spark, in, hours = 1, patches = 1).cache())
      check("audit")(audit.toSeq.flatten.filterNot(_.ok).map(_.toString).take(5))
      check("read-back")(Checks.readBack(spark, lake, expected, cutoff, head))
      check("htf buckets")(Checks.htf(spark, lake, expected, cutoff))
      served.filter(x => x._1.tfs.nonEmpty && x._2 == 200).foreach { case (r, _, _, body) =>
        check("served bars")(Checks.bars(spark, expected, r, body))
      }
      check("analytics batch")(Analytics.check())
      Log.progress("checks")
      if (tracer.enabled) perLayer(userBytes)
    }

    /** One hourly cycle: build and append the fresh hour, land a late
      * patch, one gated fleet tick, then the steady polls. */
    private def cycle(in: Inputs, lake: Lake): Unit = {
      val pollMs = mutable.ArrayBuffer.empty[Double]
      val (_, cycleS) = cpu {
        op("fresh hour")(lake.appendHour(lake.collectAndBuild(in, 0)))
        op("patch")(lake.deltaPatch(input(in.patch(spark, 0))))
        op("fleet tick")(lake.fleetTick()).foreach(countTick)
        (0 until SteadyPolls).foreach { _ =>
          val (rs, t) = threadCpu(op("steady poll")(lake.steadyPoll()))
          pollMs += t * 1000
          rs.foreach { r =>
            steadyScanned += r.map(_._2.bucketsScanned).sum
            if (r.exists(x => x._2.bucketsScanned != 0 || x._2.bucketsWritten != 0))
              failures += s"steady poll did work: $r"
          }
        }
      }
      metrics("cycle_cpu_s") = (cycleS, "s")
      Log.progress(f"cycle; steady poll CPU ${median(pollMs.toSeq)}%.3f ms (median)")
    }

    /** The API closed loop over the lake as it stands at `head`. Returns
      * what it served, for the bar checks. Requests run cold: a warm-up
      * round cost as much CPU per request again and did not steady it. */
    private def serve(gen: Gen, lake: Lake, head: Instant)
        : Seq[(Req, Int, Double, Map[String, Any])] = {
      val api = new Api(spark, lake, head, tracer)
      val mix = new RequestMix(seed, gen.symbols, head)
      val ((served, wall), loopCpu) =
        cpu(ClosedLoop.run(api, mix.round(), if (tracer.enabled) 1 else Clients))
      requests = served.size
      attempted += served.size
      served.filter(_._2 != 200).foreach { case (r, s, _, b) =>
        failures += s"${r.http.path} ${r.http.query} -> $s ${b.getOrElse("detail", "")}"
      }
      val lat = served.map(_._3)
      metrics("api_cpu_ms") = (loopCpu * 1000 / served.size, "ms")
      Log.progress(f"api p50 ${median(lat)}%.0f ms, p95 ${nearestRank(lat, 0.95)}%.0f ms, " +
        f"${served.size / wall}%.3f req/s (wall clock)")
      served.foreach { case (r, st, ms, _) =>
        Log.progress(f"${r.span}%-20s $st ${ms}%8.1f ms ${r.http.query.getOrElse("tfs", "")}")
      }
      if (tracer.enabled) layer("service.cache_hit_ratio") = (api.hitRatio, "ratio")
      served
    }

    /** The analytics batch, one query at a time: a warm-up pass, as
      * `graft.Bench` warms up, then the timed passes. `run.py` compares
      * the last pass's results with DuckDB. */
    private def batch(): Unit = {
      def pass(): Unit = Analytics.Batch.foreach { n =>
        op(n)(tracer.span(Analytics.family(n))(Analytics.run(spark, corpus, n, oracleDir)))
      }
      pass()
      val passes = (0 until BatchPasses).map(_ => cpu(pass())._2)
      metrics("batch_cpu_s") = (median(passes), "s")
      Analytics.writeOracle(oracleDir)
      Log.progress(s"analytics ${passes.map(x => f"$x%.3f").mkString(" ")} s")
    }

    /** Per-layer counters of every span. */
    private def perLayer(userBytes: Long): Unit = {
      val spans = tracer.snapshot()
      def mb(b: Long) = b / 1048576.0
      def put(name: String, v: Double, unit: String): Unit = layer(name) = (v, unit)
      LayerMetrics.spans.filter { case (s, _) => spans.contains(s) }.foreach { case (span, extra) =>
        val st = spans(span)
        put(s"$span.wall_ms", st.wallNs / 1e6, "ms")
        put(s"$span.driver_ms", math.max(0.0, st.wallNs / 1e6 - st.coveredMs), "ms")
        put(s"$span.jobs", st.jobs.get.toDouble, "count")
        put(s"$span.cpu_ms", st.cpuNs.get / 1e6, "ms")
        put(s"$span.input_mb", mb(st.inputBytes.get), "MB")
        if (extra.contains("output_mb")) put(s"$span.output_mb", mb(st.outputBytes.get), "MB")
        if (extra.contains("fs_ops")) put(s"$span.fs_ops", st.fsOps.get.toDouble, "count")
        if (extra.contains("catalyst_ms")) put(s"$span.catalyst_ms", st.catalystMs.get.toDouble, "ms")
        if (extra.contains("shuffle_mb")) put(s"$span.shuffle_mb", mb(st.shuffleBytes.get), "MB")
      }
      put("operators.fleet_tick.buckets_scanned", tickScanned.toDouble, "count")
      put("operators.fleet_tick.buckets_written", tickWritten.toDouble, "count")
      put("operators.steady_poll.buckets_scanned", steadyScanned.toDouble, "count")
      val written = LayerMetrics.writerSpans
        .map(s => spans.get(s).map(_.outputBytes.get).getOrElse(0L)).sum
      put("sources.write_amp", written.toDouble / userBytes, "ratio")
      put("tracer.unattributed_jobs", tracer.unattributedJobs.get.toDouble, "count")
      if (tracer.unattributedJobs.get != 0) {
        attempted += 1
        failures += s"${tracer.unattributedJobs.get} Spark jobs carried no span tag"
      }
    }

    def json: String = {
      def obj(m: collection.Map[String, (Double, String)]): String = m.map { case (k, (v, u)) =>
        s"${q(k)}: {\"value\": ${if (v.isNaN || v.isInfinite) "null" else v.toString}, " +
          s"\"unit\": ${q(u)}}"
      }.mkString("{", ", ", "}")
      s"{\"attempted\": $attempted, \"failed\": ${failures.size}, " +
        s"\"failures\": ${failures.map(q).mkString("[", ", ", "]")}, " +
        s"\"end_to_end\": ${obj(metrics)}, \"per_layer\": ${obj(layer)}, " +
        s"\"requests\": $requests, " +
        s"\"oracle_dir\": ${q(oracleDir)}}"
    }
  }
}

/** Class-data-sharing training run, used by `build.py`: one untraced
  * `serve_overlay` run, so that the archive holds the Spark and program
  * classes of every stage. Args: work dir, corpus dir. */
object Train {
  def main(args: Array[String]): Unit = {
    val spark = Main.session(args(0), traced = false)
    new Main.Run(spark, Tracer.off, compactFirst = false, 0L, args(0), args(1)).all()
    spark.stop()
  }
}

object Log {
  private val clock0 = System.nanoTime()
  /** Progress line on stderr: seconds since the first line, and a note. */
  def progress(note: String): Unit =
    System.err.println(f"[lakebench] ${(System.nanoTime() - clock0) / 1e9}%7.2f s  $note")
}

/** The per-layer metric layout: which counters each span reports. */
object LayerMetrics {
  private val lifecycle = Seq("output_mb", "fs_ops")
  private val planned = Seq("catalyst_ms")
  val spans: Seq[(String, Seq[String])] = Seq(
    "sources.bulk_write" -> (lifecycle :+ "shuffle_mb"),
    "sources.append_hour" -> lifecycle,
    "sources.delta_patch" -> lifecycle,
    "sources.compact" -> (lifecycle :+ "shuffle_mb"),
    "sources.retention" -> lifecycle,
    "sources.audit" -> lifecycle,
    "pipeline.collect_and_build" -> lifecycle,
    "operators.backfill_all" -> (lifecycle :+ "shuffle_mb"),
    "operators.fleet_tick" -> (lifecycle :+ "shuffle_mb"),
    "operators.steady_poll" -> lifecycle,
    "service.perpetual" -> planned,
    "service.btc_local" -> planned,
    "service.indicators" -> planned,
    "analytics.functions" -> planned,
    "analytics.dedup" -> (planned :+ "shuffle_mb"),
    "analytics.bars" -> (planned :+ "shuffle_mb"),
    "analytics.ops" -> planned)
  val writerSpans: Seq[String] =
    Seq("sources.bulk_write", "sources.append_hour", "sources.delta_patch", "sources.compact")
}
