package graft.tools

/** Dump `.explain("formatted")` for named queries to files — the
  * optimization-round evidence artifact (`plans/rNN/<query>_<tag>.txt`).
  * Engine-roundtrip rows (s16–s20) are skipped: their returned frame is
  * a collected summary whose plan says nothing about the lifecycle the
  * row actually prices (count their jobs with a listener instead).
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <tag> [q1,q2,...|all]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.lift(0).getOrElse("plans/r20")
    val tag = args.lift(1).getOrElse("before")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = args.lift(2).filterNot(_ == "all").map(_.split(",").toSeq)
      .getOrElse(graft.SparkEntry.queries.keys.toSeq.sorted
        .filterNot(graft.SparkEntry.engineRoundtrip))
    val spark = graft.GraftSession.local(Runtime.getRuntime.availableProcessors)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      try {
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        val formatted = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${n}_$tag.txt"),
          formatted.getBytes("UTF-8"))
        println(s"ok $n")
      } catch {
        case e: Throwable => println(s"FAIL $n: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
