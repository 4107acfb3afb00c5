package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
import org.apache.spark.sql.types.{DecimalType, DoubleType, StructField, TimestampNTZType, TimestampType}
import graft.etl.{ConfigLoader, CsvSink, Enrich, Essie, Flatten, Pipeline, StudiesSource}

/** What run.py asks one benchmark JVM to do. */
final case class Spec(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: String,
    data: String,
    panel: Seq[String],
    pools: Seq[String])

/** One workload: its share of the set-up, an untimed warm-up pass,
  * the items of one timed pass, the timed op and the untimed clean-up
  * after each op. Each op returns the facts the correctness check needs. */
trait Workload {
  def setup(s: SparkSession): Unit
  def warm(s: SparkSession): Map[String, Any]
  def pass(rng: scala.util.Random): Seq[String]
  def op(s: SparkSession, i: Int, item: String): Map[String, Any]
  def after(s: SparkSession, i: Int, item: String): Map[String, Any] = Map.empty
  /** Per-layer figures only this workload has (traced run). */
  def layers(ops: Seq[OpRecord], spans: Seq[Span]): Map[String, Double] = Map.empty
}

/** One timed op: wall seconds, the process CPU seconds (all threads:
  * driver, tasks, GC, JIT) it consumed, the JIT compile and GC
  * milliseconds that fell into it and the generated classes Spark
  * compiled for it. */
final case class OpRecord(i: Int, item: String, seconds: Double, cpuSeconds: Double, jitMs: Long,
                          gcMs: Long, codegen: Long, ok: Boolean, error: Option[String], facts: Map[String, Any])

/** Benchmark JVM: `Harness <spec.json> <result.json>`. Runs the set-up,
  * the warm-up pass and whole timed passes (a closed loop with one
  * client) for about `seconds`, then writes op timings, the facts
  * the checks need and, when traced, per-layer figures and spans. */
object Harness {
  val Cores = 4
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNanos(): Long = os.getProcessCpuTime

  private val jit = java.lang.management.ManagementFactory.getCompilationMXBean
  private val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
  def jitMs(): Long = jit.getTotalCompilationTime
  def gcMs(): Long = gcs.map(_.getCollectionTime).sum

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(Files.deleteIfExists)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Order-independent fingerprint of a result: its row count and the sum
    * of every row's xxhash64 over all columns. */
  def fingerprint(cols: Seq[Column]): Seq[Column] =
    Seq(count(lit(1)).as("rows"), sum(xxhash64(cols: _*).cast("decimal(38,0)")).as("hash"))

  def fingerprintOf(df: DataFrame): Map[String, Any] = {
    val fp = fingerprint(df.columns.toIndexedSeq.map(col))
    val r = df.agg(fp.head, fp.tail: _*).collect()(0)
    Map("rows" -> r.getLong(0), "hash" -> String.valueOf(r.get(1)))
  }

  def session(spec: Spec): SparkSession = {
    val b = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${spec.work}/tmp")
      .config("spark.sql.warehouse.dir", s"${spec.work}/warehouse")
    if (spec.trace) b.config("spark.sql.queryExecutionListeners", classOf[PlanListener].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    if (spec.trace) s.sparkContext.addSparkListener(new SchedListener)
    s
  }

  /** JVM/codegen warm-up, the same actions graft.Bench runs first. */
  private def warmJvm(s: SparkSession): Unit = {
    s.range(1000000).selectExpr("sum(id)").collect()
    s.range(1).selectExpr("lower(concat('W', id))", "upper(concat('w', id))").collect()
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val spec = mapper.readValue(new java.io.File(args(0)), classOf[Spec])
    Trace.enabled = spec.trace
    val wl: Workload = spec.workload match {
      case "etl_pipeline" => new EtlWorkload(spec)
      case "registry_mix" => new MixWorkload(spec)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    // Set-up, timed from JVM start: the session with GraftExtensions, the
    // JVM warm-up and the workload's own set-up, until an op could run.
    Trace.currentOp = -1
    val spark = Trace.span("setup") {
      val s = Trace.span("setup.session")(session(spec))
      Trace.span("setup.warmup")(warmJvm(s))
      wl.setup(s)
      s
    }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    Trace.currentOp = -100
    val tWarm = System.nanoTime()
    val warm = Trace.span("warmup")(wl.warm(spark))
    val warmS = seconds(tWarm)

    val rng = new scala.util.Random(spec.seed)
    val ops = mutable.ArrayBuffer.empty[OpRecord]
    val sc = spark.sparkContext
    // Traced: deliver every pending listener event before the op id changes,
    // so untimed work is never counted against the next op.
    def drain(): Unit = if (spec.trace) org.apache.spark.PerfbenchBridge.drain(sc)
    drain()
    // Whole passes, as many as fit the window best: another pass starts
    // only if it would end less than half a pass past the window, so a run
    // measures about `seconds` however fast the host is today.
    val tStart = System.nanoTime()
    var lastPass = 0.0
    while (seconds(tStart) + lastPass / 2 < spec.seconds) {
      val tPass = System.nanoTime()
      wl.pass(rng).foreach { item =>
        val i = ops.size
        Trace.currentOp = i
        sc.setJobDescription(s"${Trace.DescPrefix}$i $item")
        val t0 = System.nanoTime()
        val c0 = cpuNanos()
        val (j0, g0, cg0) = (jitMs(), gcMs(), org.apache.spark.PerfbenchBridge.codegenCompiles())
        val (ok, err, facts) =
          try (true, None, Trace.span(s"op:$item")(wl.op(spark, i, item)))
          catch { case e: Throwable => (false, Some(s"${e.getClass.getName}: ${e.getMessage}"), Map.empty[String, Any]) }
          finally sc.setJobDescription(null)
        val dt = seconds(t0)
        val cpu = (cpuNanos() - c0) / 1e9
        val (j, g, cg) = (jitMs() - j0, gcMs() - g0, org.apache.spark.PerfbenchBridge.codegenCompiles() - cg0)
        drain()
        Trace.currentOp = -200
        val more = try wl.after(spark, i, item) catch { case e: Throwable =>
          Map("after_error" -> s"${e.getClass.getName}: ${e.getMessage}") }
        drain()
        ops += OpRecord(i, item, dt, cpu, j, g, cg, ok, err, facts ++ more)
      }
      lastPass = seconds(tPass)
    }
    val measured = seconds(tStart)

    val spans = Trace.allSpans
    val layers = if (spec.trace) commonLayers(ops.toSeq) ++ wl.layers(ops.toSeq, spans) else Map.empty
    if (spec.trace) {
      val w = Files.newBufferedWriter(Paths.get(spec.work, "spans.jsonl"))
      try spans.foreach { s =>
        w.write(mapper.writeValueAsString(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
          "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end,
          "self_s" -> Trace.selfSeconds(s, spans))))
        w.newLine()
      } finally w.close()
    }
    spark.stop()
    val result = Map(
      "setup_s" -> setupS,
      "warm_s" -> warmS,
      "measured_s" -> measured,
      "warm" -> warm,
      "ops" -> ops.map(o => Map("i" -> o.i, "item" -> o.item, "seconds" -> o.seconds,
        "cpu_seconds" -> o.cpuSeconds, "jit_ms" -> o.jitMs, "gc_ms" -> o.gcMs, "codegen" -> o.codegen,
        "ok" -> o.ok, "error" -> o.error.orNull, "facts" -> o.facts)),
      "layers" -> layers,
      "peak_rss_mb" -> peakRssMb())
    mapper.writeValue(new java.io.File(args(1)), result)
  }

  /** Layers every workload has, as per-op means: the listeners' counters
    * and the JVM's codegen and JIT counters. */
  private def commonLayers(ops: Seq[OpRecord]): Map[String, Double] = {
    val n = math.max(ops.size, 1).toDouble
    def perOp(key: String) = ops.map(o => Trace.counter(o.i, key)).sum / n
    val wall = ops.map(_.seconds).sum
    val keys = Seq("sched.jobs", "sched.stages", "sched.single_task_stages", "sched.tasks",
      "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s", "shuffle.write_bytes",
      "shuffle.read_bytes", "shuffle.spill_bytes", "io.input_bytes", "io.output_bytes",
      "plan.analysis_ms", "plan.optimizer_ms", "plan.planning_ms", "plan.executions")
    keys.map(k => k -> perOp(k)).toMap ++ Map(
      "exec.busy_core_frac" ->
        (if (wall > 0) ops.map(o => Trace.counter(o.i, "exec.task_run_s")).sum / (wall * Cores) else 0.0),
      "exec.task_skew" -> median(ops.map(o => math.max(Trace.counter(o.i, "exec.task_skew"), 1.0))),
      "native.query_share" ->
        (if (wall > 0) ops.filter(o => Trace.counter(o.i, "native") > 0).map(_.seconds).sum / wall else 0.0),
      "codegen.classes" -> ops.map(_.codegen).sum / n,
      "jvm.jit_ms" -> ops.map(_.jitMs).sum / n,
      "trace.op_p50_s" -> median(ops.map(_.seconds)))
  }

  /** Spans named `name` of timed ops. */
  def opSpans(spans: Seq[Span], name: String): Seq[Span] = spans.filter(s => s.op >= 0 && s.name == name)
}

/** `etl_pipeline`: one op is one graft.Main run — Pipeline.run over the
  * page chain with the CSV sink, observed gate counters and the final
  * count — in a fresh session, so the per-session page memo starts cold
  * as it does for the CLI. */
final class EtlWorkload(spec: Spec) extends Workload {
  private lazy val cfg = ConfigLoader.load(s"${spec.data}/config.yaml")
  private def out(i: Int) = s"${spec.work}/out/op_$i"

  def setup(s: SparkSession): Unit = Trace.span("etl.config") {
    Essie.compileAll(cfg.filterAdvanced)
  }

  /** Two untimed runs of the op: op times keep falling over the first few
    * runs of a JVM while the JIT compiles the driver-side paths. */
  def warm(s: SparkSession): Map[String, Any] = {
    (1 to 2).foreach(w => op(s, -w, "pipeline"))
    Map.empty
  }

  def pass(rng: scala.util.Random): Seq[String] = Seq("pipeline")

  def op(s: SparkSession, i: Int, item: String): Map[String, Any] =
    if (spec.trace) staged(s.newSession(), i) else run(s.newSession(), out(i))

  private def run(s: SparkSession, path: String): Map[String, Any] = {
    val (df, obs) = Enrich.withMetrics(Pipeline.run(s, Pipeline.Config(
      pagesDir = spec.data, essieTerms = cfg.filterAdvanced, gate = cfg.gate,
      outputPath = Some(path))))
    val rows = df.count()
    val m = obs.get
    Map("rows" -> rows, "processed" -> m("processed"), "bypassed" -> m("bypassed"), "out" -> path)
  }

  /** Traced op: the same composition as Pipeline.run, called stage by
    * stage through the public modules, each stage forced so its span
    * holds its own execution. */
  private def staged(s: SparkSession, i: Int): Map[String, Any] = {
    val sc = s.sparkContext
    val jobs0 = { org.apache.spark.PerfbenchBridge.drain(sc); Trace.counter(i, "sched.jobs") }
    val raw = Trace.span("etl.extract") {
      val r = StudiesSource.readPaged(s, spec.data, "page_1.json", 100)
      require(!r.isEmpty, "extract produced no studies")
      r
    }
    org.apache.spark.PerfbenchBridge.drain(sc)
    Trace.add(i, "etl.extract_jobs", Trace.counter(i, "sched.jobs") - jobs0)
    Trace.add(i, "etl.pages", raw.inputFiles.length.toDouble)
    Trace.add(i, "etl.studies", raw.count().toDouble)
    val filtered = Trace.span("etl.essie") {
      val f = raw.filter(Essie.compileAll(cfg.filterAdvanced))
      Trace.add(i, "etl.essie_rows_out", f.count().toDouble)
      f
    }
    val flat = Trace.span("etl.flatten") { val f = Flatten(filtered); Harness.noop(f); f }
    val (enriched, obs) = Trace.span("etl.enrich") {
      val e = Enrich.gated(flat, cfg.gate)
      val (observed, o) = Enrich.withMetrics(e)
      Harness.noop(observed)
      (e, o)
    }
    val path = out(i)
    Trace.span("etl.sink") {
      CsvSink.write(enriched.drop("processed"), path, aiColumn = Some(cfg.gate.aiColumn))
    }
    Trace.add(i, "etl.sink_bytes", Harness.dirBytes(Paths.get(path)).toDouble)
    val m = obs.get
    Map("rows" -> Trace.counter(i, "etl.essie_rows_out").toLong, "processed" -> m("processed"),
      "bypassed" -> m("bypassed"), "out" -> path)
  }

  override def layers(ops: Seq[OpRecord], spans: Seq[Span]): Map[String, Double] = {
    def self(name: String) = Harness.median(Harness.opSpans(spans, name).map(Trace.selfSeconds(_, spans)))
    def mean(f: OpRecord => Double) = if (ops.isEmpty) 0.0 else ops.map(f).sum / ops.size
    Map(
      "etl.extract_s" -> self("etl.extract"),
      "etl.extract_jobs" -> mean(o => Trace.counter(o.i, "etl.extract_jobs")),
      "etl.pages" -> mean(o => Trace.counter(o.i, "etl.pages")),
      "etl.studies" -> mean(o => Trace.counter(o.i, "etl.studies")),
      "etl.essie_rows_out" -> mean(o => Trace.counter(o.i, "etl.essie_rows_out")),
      "etl.flatten_s" -> self("etl.flatten"),
      "etl.enrich_s" -> self("etl.enrich"),
      "etl.sink_s" -> self("etl.sink"),
      "etl.processed" -> mean(o => o.facts.get("processed").map(_.toString.toDouble).getOrElse(0.0)),
      "etl.bypassed" -> mean(o => o.facts.get("bypassed").map(_.toString.toDouble).getOrElse(0.0)),
      "etl.sink_bytes" -> mean(o => Trace.counter(o.i, "etl.sink_bytes")))
  }
}

/** `registry_mix`: one op is one registered query run to the noop sink,
  * or — for items named `stream:<kernel>` — one StreamBench.driveOne of
  * that kernel (four waves and its report). Tables are resolved and the
  * pools the panel reads are built in set-up; the warm-up dumps each
  * query's result for the DuckDB check and records its fingerprint, which
  * every timed op of the query must repeat, records each kernel's report
  * row count and content hash, which every later drive must repeat, and
  * runs each query op once more. */
final class MixWorkload(spec: Spec) extends Workload {
  private lazy val queries = graft.SparkEntry.queries
  private val kernels = graft.streaming.StreamBench.kernels.map(k => k._1 -> k._3).toMap
  private val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
  private var resolveS = 0.0
  private var poolS = Map.empty[String, Double]

  private def kernel(item: String): Option[String] =
    if (item.startsWith("stream:")) Some(item.stripPrefix("stream:")) else None

  def setup(s: SparkSession): Unit = {
    val t0 = System.nanoTime()
    Trace.span("tables.resolve") {
      graft.Tables.names.foreach(t =>
        if (t == "events") graft.Tables.events(s, spec.data) else graft.Tables.load(s, spec.data, t))
    }
    resolveS = Harness.seconds(t0)
    val builders = graft.queries.PoolWarmup.pools.toMap
    poolS = spec.pools.map { key =>
      val t1 = System.nanoTime()
      Trace.span(s"pool.build:$key")(Harness.noop(builders(key)(s, spec.data)))
      key -> Harness.seconds(t1)
    }.toMap
  }

  /** Session-tz timestamps to NTZ and decimals to double, as graft.Verify
    * dumps them for the DuckDB compare. */
  private def canonicalCols(df: DataFrame): Seq[Column] =
    df.schema.fields.toIndexedSeq.map {
      case StructField(n, TimestampType, _, _) => col(n).cast(TimestampNTZType).as(n)
      case StructField(n, _: DecimalType, _, _) => col(n).cast(DoubleType).as(n)
      case StructField(n, _, _, _) => col(n)
    }

  def warm(s: SparkSession): Map[String, Any] = {
    val (streams, qs) = spec.panel.partition(kernel(_).isDefined)
    val dumps = qs.map { q =>
      val path = s"${spec.work}/out/$q"
      val t0 = System.nanoTime()
      val err =
        try {
          val df = queries(q)(s, spec.data)
          df.select(canonicalCols(df): _*).coalesce(1).write.mode("overwrite").parquet(path)
          None
        } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
        finally s.catalog.clearCache()
      val fp = if (err.isEmpty) Harness.fingerprintOf(s.read.parquet(path)) else Map.empty
      q -> Map("path" -> path, "seconds" -> Harness.seconds(t0), "error" -> err.orNull,
        "oracle" -> graft.SparkEntry.oracleSql.get(q).orNull, "fingerprint" -> fp)
    }.toMap
    val kernelFacts = streams.map(k => k -> (op(s, -1, k) ++ after(s, -1, k))).toMap
    // One untimed run of each query op too (the kernels have had theirs):
    // without it the first timed pass ran 15-25 % slower while the JIT
    // compiled, and its share of the window decided the run's median.
    qs.foreach { q => op(s, -1, q); after(s, -1, q) }
    Map("dumps" -> dumps, "kernels" -> kernelFacts)
  }

  def pass(rng: scala.util.Random): Seq[String] = rng.shuffle(spec.panel)

  /** A query op writes to the noop sink and observes its result's
    * fingerprint on the way, in the canonical types of the checked dump. */
  def op(s: SparkSession, i: Int, item: String): Map[String, Any] = kernel(item) match {
    case Some(k) => Map("state_bytes" -> graft.streaming.StreamBench.driveOne(s, spec.data, k))
    case None =>
      val df = queries(item)(s, spec.data)
      val obs = Observation("perfbench_fingerprint")
      val fp = Harness.fingerprint(canonicalCols(df))
      Harness.noop(df.observe(obs, fp.head, fp.tail: _*))
      val m = obs.get
      Map("fingerprint" -> Map("rows" -> m("rows"), "hash" -> String.valueOf(m("hash"))))
  }

  /** Drop the caches an op persisted; after a drive, count and hash the
    * report rows (order-independent) from the state dir the drive left
    * behind, then remove the dir. */
  override def after(s: SparkSession, i: Int, item: String): Map[String, Any] = {
    val facts = kernel(item).map { k =>
      val dirs = Files.list(tmp).iterator().asScala
        .filter(_.getFileName.toString.startsWith(s"stream_bench_$k")).toSeq
      require(dirs.size == 1, s"expected one state dir for $k, found ${dirs.size}")
      val r = try {
        val report = kernels(k)(s, dirs.head.toString)
        report.select(xxhash64(report.columns.toIndexedSeq.map(col): _*).cast("decimal(38,0)").as("h"))
          .agg(count(lit(1)), sum(col("h")).cast("string")).collect()(0)
      } finally Harness.deleteTree(dirs.head)
      Map[String, Any]("report_rows" -> r.getLong(0), "report_hash" -> r.getString(1))
    }.getOrElse(Map.empty)
    s.catalog.clearCache()
    facts
  }

  override def layers(ops: Seq[OpRecord], spans: Seq[Span]): Map[String, Double] = {
    val poolBytes = Files.list(tmp).iterator().asScala
      .filter(_.getFileName.toString.startsWith("graft_pools_")).map(Harness.dirBytes).sum
    val perItem = ops.groupBy(_.item).flatMap { case (item, os) =>
      val secs = Harness.median(os.map(_.seconds))
      kernel(item) match {
        case Some(k) => Seq(s"stream.kernel_s.$k" -> secs,
          s"stream.state_bytes.$k" -> Harness.median(os.map(_.facts.get("state_bytes").map(_.toString.toDouble).getOrElse(0.0))),
          s"stream.jobs.$k" -> os.map(o => Trace.counter(o.i, "sched.jobs")).sum / os.size)
        case None => Seq(s"query_s.$item" -> secs)
      }
    }
    perItem ++ Map("pool.build_s" -> poolS.values.sum, "pool.output_bytes" -> poolBytes.toDouble,
      "tables.resolve_s" -> resolveS)
  }
}
