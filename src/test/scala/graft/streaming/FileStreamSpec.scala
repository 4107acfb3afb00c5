package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.SparkTestSession
import graft.SparkTestSession.withTempDir

/** File-to-file streaming e2e: readStream over a parquet directory →
  * windowed aggregation → parquet sink with checkpointing — the
  * production shape of a streaming ingest (restartable from the
  * checkpoint, append-mode with watermark-expired windows). */
class FileStreamSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("parquet->parquet streaming window agg equals the batch result") {
    withTempDir("stream_files") { root =>
      val (srcDir, outDir, ckDir) = (s"$root/src", s"$root/out", s"$root/ck")

      val events = graft.Tables.events(spark, sf)
      events.write.mode("overwrite").parquet(srcDir)

      val stream = spark.readStream
        .schema(events.schema)
        .parquet(srcDir)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("w_start"), col("event_type"), col("n"))

      val q = stream.writeStream
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckDir)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)

      val got = spark.read.parquet(outDir)
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      val want = events
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("w_start"), col("event_type"), col("n"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet

      // append mode emits only watermark-closed windows: everything except
      // the windows still open at end-of-stream
      assert(got.nonEmpty && got.subsetOf(want))
      val openWindowStarts = want.map(_._1).toSeq.sortBy(_.getTime).takeRight(1).toSet
      val closed = want.filterNot(t => openWindowStarts.contains(t._1))
      assert(closed.subsetOf(got))
    }
  }

  test("stream-static dedup survives a restart: fp state holds across runs") {
    withTempDir("incdedup") { root =>
      val (srcDir, outDir, ckDir) = (s"$root/src", s"$root/out", s"$root/ck")

      val all = graft.Tables.documents(spark, sf)
        .select(col("doc_id"), col("source"), col("text"),
          graft.functions.DetHash.mdBucket(col("doc_id"), "arrival:", 100).as("b"))
      val corpusIdx = all.filter(col("b") < 70)
        .select(md5(col("text")).as("fp")).distinct()
      val delta = all.filter(col("b") >= 70).select("doc_id", "source", "text")

      def runOnce(batch: org.apache.spark.sql.DataFrame): Unit = {
        batch.write.mode("append").parquet(srcDir)
        val stream = spark.readStream.schema(batch.schema).parquet(srcDir)
        val q = StreamingOps.incrementalDedup(stream, corpusIdx).writeStream
          .format("parquet").option("path", outDir)
          .option("checkpointLocation", ckDir)
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination(120000)
      }

      val half = delta.count() / 2
      runOnce(delta.filter(col("doc_id") % 2 === 0))
      // second RUN (fresh query from the same checkpoint): replays nothing,
      // and its fingerprint state must still drop re-arrivals from run 1
      runOnce(delta) // contains every run-1 doc again plus the odd half
      val out = spark.read.parquet(outDir)
      val fps = out.select("fp").collect().map(_.getString(0))
      assert(fps.length == fps.distinct.length,
        "a fingerprint was emitted twice across restarts")
      val want = graft.SparkEntry.queries("p07_incremental_dedup")(spark, sf)
        .filter(col("disposition") === "new").select("fp")
        .collect().map(_.getString(0)).toSet
      assert(fps.toSet == want && half > 0)
    }
  }
}
