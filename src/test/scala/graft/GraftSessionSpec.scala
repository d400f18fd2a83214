package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.FunctionIdentifier

/** One session recipe: the specs run on exactly what the mains build, and
  * no main builds its own. */
class GraftSessionSpec extends SparkSpec {

  test("SparkSpec.session is GraftSession.local(4) with the shared confs") {
    val conf = spark.conf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.parquet.compression.codec") == "zstd")
    assert(conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "false")
    assert(conf.get("spark.ui.enabled") == "false")
    assert(org.apache.logging.log4j.LogManager.getRootLogger.getLevel ==
      org.apache.logging.log4j.Level.ERROR)
    assert(spark.sessionState.functionRegistry.functionExists(FunctionIdentifier("graft_dot")))
  }

  test("only GraftSession.scala builds a SparkSession under src/main/scala") {
    // the forked test JVM runs in the sbt base dir
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} is not the main source tree")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.exists(_.endsWith("GraftSession.scala")))
    val builders = sources.filter((p: Path) =>
      Files.readString(p).contains("SparkSession.builder"))
    assert(builders.map(_.getFileName.toString) == Seq("GraftSession.scala"))
  }
}
