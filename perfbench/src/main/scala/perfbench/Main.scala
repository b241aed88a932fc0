package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What one workload run hands back to [[Main]]. */
final case class Outcome(
    setupS: Seq[Double],
    steps: Series,
    /** Workload-specific end-to-end figures: name -> (value, unit). */
    detail: Seq[(String, (Double, String))],
    series: Seq[Series],
    inputs: Json.Obj,
    checks: Seq[(String, Option[String])],
    attempted: Long,
    failedOps: Long,
    /** Layer figures the workload measures itself, traced runs only. */
    layers: Map[String, Double],
    notes: Seq[(String, Json.V)] = Nil)

final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
                     traced: Boolean, work: String, data: String) {
  def dir(name: String): String = {
    val d = new File(work, name); d.mkdirs(); d.getAbsolutePath
  }
}

trait Workload {
  def name: String
  def run(ctx: Ctx): Outcome
}

/** Runs one workload by name and seed and writes its result record.
  *
  * {{{
  * Main --workload churn|curate|live --seed N --seconds S --trace 0|1
  *      --data <sf0.1 dir> --work <scratch dir> --out <record.json>
  * }}}
  */
object Main {
  val workloads: Map[String, Workload] =
    Seq(Churn, Curate, Live).map(w => w.name -> w).toMap

  /** Every per-layer metric a traced record carries, in print order. */
  val layerNames: Seq[String] = {
    def five(span: String, last: String) =
      Seq("busy_s", "jobs", "task_s", "driver_s", last).map(m => s"$span.$m")
    val fsSpans = Seq("pipelines.etl", "storage.read", "storage.merge",
      "storage.delete", "storage.time_travel", "storage.restore",
      "storage.optimize", "storage.matview_refresh", "lineage.observe",
      "streaming.matview", "streaming.replicate", "streaming.lag")
    val opSpans = Seq("ops.quality", "ops.exact_dedup", "ops.fuzzy_dedup",
      "ops.span_dedup", "ops.decontaminate", "ops.chunk", "ops.pack",
      "ops.redact", "ops.fingerprint")
    fsSpans.flatMap(five(_, "fs_ops")) ++
      Seq("busy_s", "jobs", "task_s", "driver_s").map("examples.curate." + _) ++
      opSpans.flatMap(five(_, "shuffle_bytes")) ++ Seq(
      "pipelines.etl.self_s",
      "storage.matview_refresh.incremental_frac",
      "storage.matview_refresh.groups_rescanned",
      "storage.table.data_files", "storage.table.oplog_files",
      "ops.fuzzy_dedup.spill_bytes",
      "ops.redact.max_task_s", "ops.fingerprint.max_task_s",
      "streaming.matview.busy_frac", "streaming.replicate.busy_frac",
      "bench.generator_late_max_s",
      "spark.idle_frac", "spark.gc_s", "tracing.overhead_frac")
  }

  def parse(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    def need(k: String) = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val workload = workloads.getOrElse(need("workload"),
      throw new IllegalArgumentException(
        s"unknown workload ${need("workload")}; one of " +
          workloads.keys.toSeq.sorted.mkString(", ")))
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val work = new File(need("work")).getAbsolutePath
    val out = need("out")
    val loadStart = loadavg()
    val cores = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = session(cores, work, traced)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val gc0 = Trace.gcMs()
    val ctx = Ctx(spark, seed, seconds, traced, work, need("data"))
    val result = try workload.run(ctx) finally {
      spark.streams.active.foreach(q => try q.stop() catch { case NonFatal(_) => })
    }
    drainListener(spark)
    val gcS = (Trace.gcMs() - gc0) / 1e3

    val failedChecks = result.checks.count(_._2.nonEmpty)
    val attempted = result.attempted + result.checks.size
    val failed = result.failedOps + failedChecks
    val e2e = Seq(
      "setup_s" -> (sessionS + Stats.median(result.setupS), "s"),
      "step_p50_s" -> (result.steps.p50, "s"),
      "peak_rss_mb" -> (peakRssMb(), "MB"))
    val detail = result.detail ++ Seq(
      "peak_rss_mb" -> (peakRssMb(), "MB"),
      "fail_frac" -> (failed.toDouble / attempted, "ratio"))
    val layers =
      if (!traced) Map.empty[String, Double]
      else {
        val folded = Trace.layerMetrics() ++ result.layers ++ Map(
          "spark.idle_frac" -> Trace.idleFrac(), "spark.gc_s" -> gcS)
        layerNames.map(n => n -> folded.getOrElse(n, 0.0)).toMap
      }

    val stamp = Json.obj(
      "nproc" -> Json.Num(cores),
      "loadavg_start" -> Json.Str(loadStart),
      "loadavg_end" -> Json.Str(loadavg()),
      "spark" -> Json.Str(spark.version),
      "jdk" -> Json.Str(System.getProperty("java.version")),
      "master" -> Json.Str(spark.sparkContext.master),
      "shuffle_partitions" ->
        Json.Str(spark.conf.get("spark.sql.shuffle.partitions")),
      "driver_heap_mb" ->
        Json.Num(Runtime.getRuntime.maxMemory / (1024 * 1024)),
      "commit" -> Json.Str(sys.env.getOrElse("PERFBENCH_COMMIT", "unknown")),
      "seed" -> Json.Num(seed),
      "trace" -> Json.Bool(traced))
    val record = Json.obj(
      "workload" -> Json.Str(workload.name),
      "stamp" -> stamp,
      "inputs" -> result.inputs,
      "correct" -> Json.Bool(failedChecks == 0),
      "attempted" -> Json.Num(attempted),
      "failed" -> Json.Num(failed),
      "checks" -> Json.Obj(result.checks.map { case (k, v) =>
        k -> v.map(Json.Str).getOrElse(Json.Str("ok")) }),
      "end_to_end" -> Json.Obj(e2e.map { case (k, (v, u)) =>
        k -> Json.obj("value" -> Json.Num(v), "unit" -> Json.Str(u)) }),
      "detail" -> Json.Obj(detail.map { case (k, (v, u)) =>
        k -> Json.obj("value" -> Json.Num(v), "unit" -> Json.Str(u)) }),
      "series" -> Json.Obj(
        (result.steps +: result.series).map(s => s.name -> s.json)),
      "setup_samples_s" -> Json.Arr(result.setupS.map(Json.Num)),
      "session_start_s" -> Json.Num(sessionS),
      "per_layer" -> Json.num(layers),
      "notes" -> Json.Obj(result.notes))
    spark.stop()
    Files.write(Paths.get(out), record.render.getBytes("UTF-8"))

    println(s"[perfbench] ${workload.name} seed=$seed trace=${if (traced) 1 else 0}")
    detail.foreach { case (k, (v, u)) => println(f"  $k%-22s $v%12.4f $u") }
    (result.steps +: result.series).foreach { s =>
      val t = Stats.tail(s.samples)
      println(f"  ${s.name}%-22s n=${s.samples.size}%d" + t.map { case (p, v) =>
        f" p$p%d=$v%.4f s" }.getOrElse(" (too few samples for a tail)"))
    }
    result.checks.foreach { case (k, v) =>
      println(s"  check $k: ${v.getOrElse("ok")}") }
    println(s"  setup samples: ${result.setupS.map(x => f"$x%.2f").mkString(" ")}" +
      f" s, session start $sessionS%.2f s")
    println(s"  correct=${failedChecks == 0} attempted=$attempted failed=$failed")
  }

  def session(cores: Int, work: String, traced: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir",
        new File(work, "warehouse").getAbsolutePath)
      .config("io.jorvik.data_lineage.log_path",
        new File(work, "lineage").getAbsolutePath)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (traced) Trace.install(spark)
    spark
  }

  /** Blocks until the listener bus has delivered every event so far: a
    * marker job's end event arrives after all earlier events. */
  def drainListener(spark: SparkSession): Unit = {
    val marker = new SpanListener
    spark.sparkContext.addSparkListener(marker)
    spark.sparkContext.setJobDescription("perfbench drain")
    spark.range(1).count()
    val deadline = System.currentTimeMillis() + 30000
    while (marker.lastJobEnd < 0 && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    spark.sparkContext.removeSparkListener(marker)
  }

  def loadavg(): String =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+").take(3).mkString(",")
      finally src.close()
    } catch { case NonFatal(_) => "unavailable" }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
      finally src.close()
    } catch { case NonFatal(_) => 0.0 }

  /** Runs `op`, counting it; a throw is a failed operation, recorded with
    * its message, and the loop goes on. */
  final class Ops {
    var attempted = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    def apply[A](what: String)(op: => A): Option[A] = {
      attempted += 1
      try Some(op)
      catch {
        case NonFatal(e) =>
          failures += s"$what: $e"
          System.err.println(s"[perfbench] $what failed: $e")
          e.printStackTrace()
          None
      }
    }
  }

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }
}
