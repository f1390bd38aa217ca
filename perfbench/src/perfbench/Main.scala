package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Options from perfbench/run.py. */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      data: String, digests: String, scratch: String, out: String,
                      smoke: Boolean, recordDigests: Boolean)

/** Everything one run shares: the session, the tracer, and what it reports. */
final class Ctx(val spark: SparkSession, val opts: Opts, val cpus: Int, val sessionStartS: Double) {
  val spans = new Spans
  private val probe: Option[SparkProbe] = if (opts.trace) Some(new SparkProbe(spark)) else None
  private var tracing = false
  val endToEnd = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val checks = mutable.LinkedHashMap.empty[String, Boolean]
  val artifact = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L
  private val t0 = System.nanoTime()
  var calibStartS = 0.0

  /** Marks a phase boundary in the artifact: seconds since session start. */
  def phase(name: String): Unit =
    artifact(s"t_$name") = f"${(System.nanoTime() - t0) / 1e9 + sessionStartS}%.2f"

  /** Host probe just before timing starts, best of two: the JIT compiling
    * in the background right after warm-up would otherwise read as contention. */
  def calibrateStart(): Unit = {
    System.gc() // set-up garbage is not the timed operations' to collect
    phase("timed_start")
    calibStartS = math.min(Main.calibrate(spark, cpus), Main.calibrate(spark, cpus))
  }

  /** Record one output check; a check that runs several times must pass every time. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks(name) = checks.getOrElse(name, true) && ok
    if (!ok) System.err.println(s"[perfbench] check $name FAILED $detail")
  }

  def isTracing: Boolean = tracing

  /** Traced runs switch tracing off for the rounds that measure its
    * overhead: listeners removed, spans not recorded. */
  def setTracing(on: Boolean): Unit = if (opts.trace && on != tracing) {
    probe.foreach(p => if (on) p.attach() else p.detach())
    spans.enabled = on
    tracing = on
  }

  /** Runs `body` as one traced operation when tracing, else just times it. */
  def op[T](body: => T): (T, Option[Op], Double) = probe.filter(_ => tracing) match {
    case Some(p) =>
      val (r, o) = p.measure(body)
      (r, Some(o), o.wallS)
    case None =>
      val t0 = System.nanoTime()
      val r = body
      (r, None, (System.nanoTime() - t0) / 1e9)
  }
}

/** A workload: its output checks, and a run that fills the context. */
trait Workload {
  def checks: Seq[String]
  def run(c: Ctx): Unit
}

object Main {

  /** Every per-layer metric the JVM reports (perfbench/run.py adds
    * `sources.scratch_leak_bytes`, which is measured after the JVM exits).
    * A metric a workload does not exercise reads 0. */
  val perLayer: Seq[String] = Seq(
    "spark.jobs", "spark.stages", "spark.tasks", "spark.planning_s", "spark.codegen_compile_s",
    "spark.codegen_compiles", "spark.sched_delay_s", "spark.driver_residue_s", "spark.task_run_s",
    "spark.task_cpu_s", "spark.gc_s", "spark.task_skew", "spark.shuffle_write_bytes",
    "spark.spill_bytes", "spark.session_start_s",
    "SparkEntry.build_s", "SparkEntry.action_s",
    "data.pages_gen_s", "index.cover_build_s", "index.cover_cells", "index.cell_id_ns",
    "index.probe_hit_ratio", "pipeline.candidates", "pipeline.refine_precision",
    "pipeline.full_share", "pipeline.ckpt_jobs", "pipeline.resume_work_ratio",
    "expr.st_contains_ns", "expr.tile_ns", "expr.clip_ns", "expr.distance_to_shell_ns",
    "expr.char_shingles_ns", "expr.minhash_ns", "expr.keyed_dot_ns", "expr.bm25_fold_ns",
    "sources.bytes_written", "sources.files_written", "sources.bytes_per_row",
    "sources.fixture_build_s", "streaming.batches", "streaming.batch_p50_ms",
    "streaming.state_commit_ms",
    "workload.join_pages_per_s", "workload.join_dense_pages_per_s", "workload.tile_pages_per_s",
    "workload.suite_qps", "workload.query_p50_s", "workload.query_p90_s",
    "workload.ckpt_pages_per_s", "workload.resume_s",
    "jvm.heap_peak_mb", "host.calib_s", "host.calib_drift", "trace.overhead_frac",
    "trace.span_coverage") ++ Layers.names.map(_ + ".self_s")

  val endToEnd: Seq[String] = Seq("setup_s", "items_per_s", "op_p50_s", "op_p90_s")

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val cpus = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val spark = session(cpus, opts.scratch)
    val c = new Ctx(spark, opts, cpus, (System.nanoTime() - t0) / 1e9)
    val workload: Workload = opts.workload match {
      case "spatial_pipeline" => new SpatialPipelineWorkload
      case "query_suite" => new QuerySuiteWorkload
      case other => sys.error(s"unknown workload $other")
    }
    try {
      c.setTracing(true)
      workload.run(c)
      c.setTracing(false)
      c.phase("done")
      val calib0 = c.calibStartS
      val calib1 = calibrate(spark, cpus)
      val drift = calib1 / calib0 - 1
      c.layer("host.calib_s") = (calib0 + calib1) / 2
      c.layer("host.calib_drift") = drift
      c.layer("spark.session_start_s") = c.sessionStartS
      c.layer("jvm.heap_peak_mb") = heapPeakMb()
      c.layer("trace.span_coverage") = c.spans.coverage
      Layers.names.foreach(l => c.layer(l + ".self_s") = c.spans.selfSeconds(l))
      c.artifact("calib_start_s") = f"$calib0%.4f"
      c.artifact("calib_end_s") = f"$calib1%.4f"
      // the same fixed fold taking 20% longer at the end than at the start
      // means something else took the cores during the run
      c.artifact("contended") = (math.abs(drift) > 0.2).toString
    } finally spark.stop()
    c.phase("stopped")
    writeResult(c, workload)
  }

  /** Bench.session's configuration, with Spark's scratch kept in the run directory. */
  def session(cpus: Int, scratch: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", Paths.get(scratch, "warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.registerAll(s)
    s
  }

  /** Host probe: a fixed pure-compute fold (no IO, no shuffle), the kernel
    * of ScalingBench.computeCeiling, about 0.3 s on 4 cores. */
  def calibrate(spark: SparkSession, cpus: Int): Double = {
    def fold(n: Long): Unit =
      spark.range(0, n, 1, cpus * 4).selectExpr("sum(sin(id * 1e-9) * cos(id * 1e-9))").collect()
    fold(10000000L)
    val t0 = System.nanoTime()
    fold(30000000L)
    (System.nanoTime() - t0) / 1e9
  }

  private def heapPeakMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
  }

  private def parse(args: Array[String]): Opts = {
    val m = mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val k = args(i).stripPrefix("--")
      if (k == "smoke" || k == "record-digests") { m(k) = "1"; i += 1 }
      else { m(k) = args(i + 1); i += 2 }
    }
    Opts(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1", m("data"),
      m("digests"), m("scratch"), m("out"), m.contains("smoke"), m.contains("record-digests"))
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    } + "\""

  private def writeResult(c: Ctx, w: Workload): Unit = {
    val names = if (c.opts.trace) perLayer else endToEnd
    val source = if (c.opts.trace) c.layer else c.endToEnd
    val unknown = source.keys.filterNot(names.contains)
    require(unknown.isEmpty, s"unlisted metrics ${unknown.mkString(",")}")
    val metrics = names.map(n => s"${str(n)}:${num(source.getOrElse(n, 0.0))}").mkString("{", ",", "}")
    val ran = c.checks.keys.toSeq
    val correct = w.checks.forall(n => c.checks.getOrElse(n, false))
    val json =
      s"""{"correct":$correct,"attempted":${c.attempted},"failed":${c.failed},""" +
        s""""metrics":$metrics,"checks_ran":${ran.map(str).mkString("[", ",", "]")},""" +
        s""""checks_expected":${w.checks.map(str).mkString("[", ",", "]")}}"""
    // human-readable artifact of the run: seeds, sizes, per-kind figures,
    // calibration and every check's verdict
    val art = (c.artifact.toSeq ++ c.checks.toSeq.map { case (k, v) => s"check.$k" -> v.toString })
      .map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}")
    println(s"perfbench-artifact $art")
    Files.writeString(Paths.get(c.opts.out), json)
  }
}

/** Order statistics used by every workload. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least q of the samples at or below it. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.max(0, math.ceil(q * s.size).toInt - 1))
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
