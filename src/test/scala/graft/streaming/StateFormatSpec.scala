package graft.streaming

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.SparkTestSession.withTempDir

/** The uniform versioned-state format contract (r9 verdict stretch 8):
  * every foreachBatch state dir carries a `_state_format` header; a dir
  * with versioned parquet but no header (a pre-header build), or with a
  * different header (an incompatible kernel/schema generation), is
  * refused loudly by EVERY kernel through the one shared helper —
  * never silently reinterpreted.
  */
class StateFormatSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def batch = graft.Tables.events(spark, sf).limit(50)

  /** Plant a versioned parquet dir WITHOUT a header — byte-for-byte what
    * a pre-header build's writeVersion left behind. Contents are
    * irrelevant: the refusal must fire before any schema logic runs. */
  private def plantUnversioned(dir: String): Unit = {
    batch.limit(1).coalesce(1).write.mode("overwrite").parquet(f"$dir/v${0L}%012d")
  }

  private val steps: Seq[(String, (org.apache.spark.sql.DataFrame, String, Long) => Unit, String)] =
    StreamingOps.StateKernels.map(k => (k.name, k.step _, k.leaf)) :+
      (("watermark", StreamingOps.watermarkStep _, "/wm_hi"))

  test("every state kernel refuses a versioned dir with no format header") {
    steps.foreach { case (name, step, stateLeaf) =>
      withTempDir(s"fmt_$name") { tmp =>
        val dir = tmp.toString
        plantUnversioned(s"$dir$stateLeaf")
        val e = intercept[IllegalArgumentException] {
          step(batch, dir, 1L)
        }
        assert(e.getMessage.contains("unversioned state"),
          s"$name: expected the unversioned-state refusal, got: ${e.getMessage}")
        assert(e.getMessage.contains("replay the log from batch 0"),
          s"$name: refusal must name the remedy")
      }
    }
  }

  test("every state kernel refuses a dir whose header names another format") {
    steps.foreach { case (name, step, stateLeaf) =>
      withTempDir(s"fmtx_$name") { tmp =>
        val dir = tmp.toString
        Files.createDirectories(Paths.get(s"$dir$stateLeaf"))
        Files.writeString(Paths.get(s"$dir$stateLeaf/_state_format"), "alien_kernel:v9")
        val e = intercept[IllegalArgumentException] {
          step(batch, dir, 1L)
        }
        assert(e.getMessage.contains("format mismatch"),
          s"$name: expected the format-mismatch refusal, got: ${e.getMessage}")
      }
    }
  }

  test("decayedReport refuses pre-header and alien-kernel state dirs (r10 ADVICE)") {
    // The REPORT path must enforce the same contract as the step path:
    // a published report over silently-reinterpreted state is worse than
    // a refused merge, because it escapes into downstream consumers.
    withTempDir("fmt_report_nohdr") { tmp =>
      val noHeader = tmp.toString
      plantUnversioned(noHeader)
      val e1 = intercept[IllegalArgumentException] {
        StreamingOps.Decayed.report(spark, noHeader)
      }
      assert(e1.getMessage.contains("unversioned state"))
    }
    withTempDir("fmt_report_alien") { tmp =>
      val alien = tmp.toString
      Files.writeString(Paths.get(s"$alien/_state_format"), "alien_kernel:v9")
      val e2 = intercept[IllegalArgumentException] {
        StreamingOps.Decayed.report(spark, alien)
      }
      assert(e2.getMessage.contains("format mismatch"))
    }
  }

  test("the format header is stamped before the first version rename (crash-safe order)") {
    // A crash between header write and version rename must leave a
    // header-only dir (reads as fresh — recoverable), never versioned
    // parquet without a header (refused — forced full replay). Proof by
    // the durable postcondition: header exists, alone in the dir, reads
    // as fresh state; then a later step accepts and versions normally.
    withTempDir("fmt_hdr_first") { tmp =>
      val dir = tmp.toString
      StreamingOps.Decayed.step(batch, dir, 0L)
      assert(Files.exists(Paths.get(s"$dir/_state_format")))
    }
    // simulate the crash window's surviving prefix: header only
    withTempDir("fmt_hdr_only") { tmp =>
      val dir2 = tmp.toString
      Files.writeString(Paths.get(s"$dir2/_state_format"), "decayed_partials:v1")
      // header-only dir reads as fresh (no versions) and accepts a write
      assert(StreamingOps.state(spark, dir2, StreamingOps.Decayed.format, StreamingOps.Decayed.empty).isEmpty)
      StreamingOps.Decayed.step(batch, dir2, 0L)
      assert(StreamingOps.Decayed.report(spark, dir2).collect().nonEmpty)
    }
  }

  test("a fresh dir gets stamped on first write and replays accept the header") {
    withTempDir("fmt_ok") { tmp =>
      val dir = tmp.toString
      StreamingOps.Decayed.step(batch, dir, 0L)
      val header = Files.readString(Paths.get(s"$dir/_state_format")).trim
      assert(header == "decayed_partials:v1")
      // second batch and a replay of it both pass the header check
      StreamingOps.Decayed.step(batch, dir, 1L)
      StreamingOps.Decayed.step(batch, dir, 1L)
      assert(StreamingOps.Decayed.report(spark, dir).collect().nonEmpty)
    }
  }

  /** A fixture batch of the stream each kernel folds: runs and acf fold
    * orders, the others events. */
  private def inputOf(k: StreamingOps.StateKernel) =
    if (Set("runs", "acf")(k.name)) graft.Tables.orders(spark, sf).limit(50) else batch

  private def fieldsOf(schema: org.apache.spark.sql.types.StructType) =
    schema.fields.map(f => f.name -> f.dataType).toSeq

  test("every state kernel's fold, merge and declared state schema agree") {
    // steps read their base with the folded rows' schema and reports read
    // with the declared one, so both must name the same columns and types
    StreamingOps.StateKernels.foreach { k =>
      val rows = k.fold(inputOf(k))
      assert(fieldsOf(rows.schema) == fieldsOf(k.empty), s"${k.name}: fold vs declared state")
      assert(fieldsOf(k.merge(rows.unionByName(rows)).schema) == fieldsOf(k.empty),
        s"${k.name}: merge vs declared state")
    }
  }

  test("a step's base read with its rows' schema runs no Spark job") {
    StreamingOps.StateKernels.foreach { k =>
      withTempDir(s"fmt_jobs_${k.name}") { tmp =>
        val dir = tmp.toString
        val input = inputOf(k)
        k.step(input, dir, 0L)
        val schema = k.fold(input).schema
        val (base, jobs) = SparkTestSession.jobsOf(
          StreamingOps.state(spark, s"$dir${k.leaf}", k.format, schema, Some(1L)))
        assert(base.isDefined && jobs == 0, s"${k.name}: $jobs jobs for the declared base read")
        // the listener sees an inferred read of the same version
        val (_, inferJobs) = SparkTestSession.jobsOf(spark.read.parquet(f"$dir${k.leaf}/v${0L}%012d"))
        assert(inferJobs > 0, s"${k.name}: schema inference ran no job")
      }
    }
  }
}
