package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkTestSession
import graft.SparkTestSession.withTempDir

/** The atomic-commit contract of the DSv2 write path: visibility flips
  * only at the manifest rename, so readers see old-or-new, never torn. */
class CommitLogSinkSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val fmt = "graft.sources.CommitLogSink"

  /** Each test's temp dirs live under one root, deleted after the test. */
  private var root: Path = _
  override def withFixture(test: NoArgTest): Outcome =
    withTempDir("commitlog") { r => root = r; super.withFixture(test) }
  private def freshDir() = Files.createTempDirectory(root, "table").toString

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("score", DoubleType)))

  private def sample(n: Int) = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, s"row_$i \"quoted\"", i * 1.5)).toDF("id", "name", "score")
  }

  test("write/read round-trip through the manifest, exact rows") {
    val dir = freshDir()
    sample(100).write.format(fmt).mode("append").option("path", dir).save()
    val back = CommitLogSink.readCommitted(spark, dir, schema)
    assert(back.count() == 100)
    assert(back.agg(sum("id"), sum("score")).head ==
      sample(100).agg(sum("id"), sum("score")).head)
    assert(CommitLogSink.committedManifests(dir).size == 1)
  }

  test("appends accumulate in commit order, one manifest per write") {
    val dir = freshDir()
    sample(10).write.format(fmt).mode("append").option("path", dir).save()
    sample(5).write.format(fmt).mode("append").option("path", dir).save()
    assert(CommitLogSink.committedManifests(dir).size == 2)
    assert(CommitLogSink.readCommitted(spark, dir, schema).count() == 15)
  }

  test("orphaned staging files (failed/speculative attempts) stay invisible") {
    val dir = freshDir()
    sample(10).write.format(fmt).mode("append").option("path", dir).save()
    // simulate a task attempt that wrote a file but never committed:
    // the file exists on disk yet no manifest mentions it
    val orphanDir = Paths.get(s"$dir/_staging/orphan-txn")
    Files.createDirectories(orphanDir)
    Files.write(orphanDir.resolve("part-9-99.json"),
      """{"id":999,"name":"ghost","score":0.0}""".getBytes(StandardCharsets.UTF_8))
    val back = CommitLogSink.readCommitted(spark, dir, schema)
    assert(back.count() == 10)
    assert(back.filter(col("id") === 999).count() == 0)
  }

  test("time travel: readAsOf(seq) reproduces each historical snapshot") {
    val dir = freshDir()
    sample(10).write.format(fmt).mode("append").option("path", dir).save()
    sample(5).write.format(fmt).mode("append").option("path", dir).save()
    sample(3).write.format(fmt).mode("append").option("path", dir).save()
    // seq numbers are 0,1,2 in commit order
    assert(CommitLogSink.readAsOf(spark, dir, schema, -1L).count() == 0,
      "before the first commit the table was empty — not an error")
    assert(CommitLogSink.readAsOf(spark, dir, schema, 0L).count() == 10)
    assert(CommitLogSink.readAsOf(spark, dir, schema, 1L).count() == 15)
    assert(CommitLogSink.readAsOf(spark, dir, schema, 2L).count() == 18)
    // beyond-head pins still read the head (the snapshot that existed)
    assert(CommitLogSink.readAsOf(spark, dir, schema, 99L).count() == 18)
    // latest == readCommitted, row-for-row
    assert(CommitLogSink.readAsOf(spark, dir, schema, Long.MaxValue)
      .exceptAll(CommitLogSink.readCommitted(spark, dir, schema)).count() == 0)
    // a foreign manifest name (no seq prefix) is not a commit: invisible
    // to every snapshot, exactly as it is to the writer's seq fold
    Files.write(Paths.get(s"$dir/_commits/foreign.manifest"),
      "/nonexistent/file.json".getBytes(StandardCharsets.UTF_8))
    assert(CommitLogSink.readAsOf(spark, dir, schema, 99L).count() == 18)
    assert(CommitLogSink.readCommitted(spark, dir, schema).count() == 18)
  }

  test("a failing write publishes nothing: readers keep the old state") {
    val dir = freshDir()
    sample(10).write.format(fmt).mode("append").option("path", dir).save()
    import spark.implicits._
    val poison = spark.range(8).repartition(4)
      .select(col("id"), udf((i: Long) =>
        if (i == 5) throw new RuntimeException("boom") else s"r$i").apply(col("id")).as("name"),
        lit(1.0).as("score"))
    intercept[Exception] {
      poison.write.format(fmt).mode("append").option("path", dir).save()
    }
    assert(CommitLogSink.committedManifests(dir).size == 1, "failed write must not publish")
    assert(CommitLogSink.readCommitted(spark, dir, schema).count() == 10)
  }
}
