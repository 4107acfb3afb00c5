package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The session factory is the only way sessions get built: the tests run
  * its conf, and no main hand-builds another. */
class GraftSessionSpec extends AnyFunSuite {

  test("the test session carries the factory conf at 4 cores") {
    val spark = SparkTestSession.spark
    val conf = spark.sparkContext.getConf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.parquet.outputTimestampType") == "TIMESTAMP_MICROS")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.parquet.outputTimestampType") == "TIMESTAMP_MICROS")
    val sim = spark.sql(
      "SELECT cosine_similarity(array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)))").head().getDouble(0)
    assert(math.abs(sim - 1.0) < 1e-12)
  }

  test("no main outside GraftSession and Smoke calls SparkSession.builder") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val builderCall = raw"SparkSession\s*\.\s*builder\b".r
    val callers = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => builderCall.findFirstIn(Files.readString(p)).nonEmpty)
      .map(_.getFileName.toString).toSet
    assert(callers == Set("GraftSession.scala", "Smoke.scala"),
      "build sessions through graft.GraftSession.builder")
  }
}
