package graftbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Command-line options; see perfbench/README.md. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: Path, out: Path, sfDir: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")), Paths.get(need("out")),
      kv.getOrElse("sf", ""))
  }
}

/** One timed loop's figures. `unitWallS` is the median wall of the loop's
  * repeated unit (a drain, a job, a sweep), the basis of the
  * traced run's overhead share.
  */
final case class Measure(itemsPerS: Double, latenciesMs: Seq[Double], unitWallS: Double,
    layerExtras: Map[String, Double] = Map.empty)

/** A workload: inputs from the seed, set up, then a timed loop that also
  * checks every result it produces against the plain-Scala reference.
  */
trait Workload {
  /** Repetitions of [[generate]]; `setup_s` is the session start, their
    * median and the warm-up.
    */
  def setupReps: Int = 3
  /** Generates and writes the inputs; the last repetition's are measured. */
  def generate(ctx: Ctx, rep: Int): Unit
  /** Runs the workload's code once on a small input, so the JIT, Spark's
    * code generation and caches are warm before the timed part.
    */
  def warmUp(ctx: Ctx): Unit
  def measure(ctx: Ctx, seconds: Double): Measure
  /** Per-layer figures that need extra Spark jobs; run after the traced
    * region, so their jobs are not part of it.
    */
  def traceExtras(ctx: Ctx): Map[String, Double] = Map.empty
}

/** Run-wide state shared by the workloads. */
final class Ctx(val spark: SparkSession, val opts: Opts) {
  val layers = new Layers(spark.sparkContext)
  var attempted = 0L
  var failed = 0L
  val problems: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty[String]

  /** Books one attempted unit of work; `problem` (if any) marks it failed. */
  def check(problem: Option[String]): Unit = {
    attempted += 1
    problem.foreach { p => failed += 1; if (problems.size < 20) problems += p }
  }

  /** A fresh directory under the run's work directory. */
  def freshDir(name: String): Path = {
    val d = opts.work.resolve(name)
    Files.createDirectories(d.getParent)
    Util.rmTree(d)
    Files.createDirectories(d)
    d
  }
}

object Util {
  /** Runs `unit` (which returns its own wall in seconds) `seconds /
    * nominalS` times, rounded, and at least `min` times. `nominalS` is
    * the workload's unit wall on a 4-core machine, so a run measures
    * about `seconds`; the count depends only on the arguments, never on
    * the machine's speed, so every run of a workload takes as many
    * samples.
    */
  def repeat(seconds: Double, nominalS: Double, min: Int = 1)(unit: Int => Double): Seq[Double] =
    (0 until math.max(min, math.round(seconds / nominalS).toInt)).map(unit)

  def rmTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }

  /** Linear-interpolated percentile, `q` in [0, 100]. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val r = (s.size - 1) * q / 100.0
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)
}

object Main {
  val workloads: Map[String, () => Workload] = Map(
    "cdc_catchup" -> (() => new CdcCatchup),
    "curation_batch" -> (() => new CurationBatch),
    "registry_sweep" -> (() => new RegistrySweep))

  def session(cpus: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.Logging.quietWindowExec()
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val make = workloads.getOrElse(opts.workload,
      throw new IllegalArgumentException(s"unknown workload ${opts.workload}"))
    Files.createDirectories(opts.work)
    val cpus = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = session(cpus, opts.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, opts)
    val w = make()
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    try {
      def timed(body: => Unit): Double = {
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }
      val setups = (0 until w.setupReps).map(rep => timed(w.generate(ctx, rep)))
      val warmS = timed(w.warmUp(ctx))
      val setupS = sessionS + Util.median(setups) + warmS
      val m0 = System.nanoTime()
      val plain = w.measure(ctx, opts.seconds)
      System.err.println(f"[perfbench] session $sessionS%.2f s, inputs " +
        setups.map(x => f"$x%.2f").mkString(" ") + f" s, warm-up $warmS%.2f" +
        f" s, measured ${(System.nanoTime() - m0) / 1e9}%.2f s, ${plain.latenciesMs.size} latency samples")
      if (!opts.trace) {
        metrics("setup_s") = (setupS, "s")
        metrics("items_per_s") = (plain.itemsPerS, "1/s")
        metrics("latency_ms_p50") = (Util.percentile(plain.latenciesMs, 50), "ms")
        metrics("latency_ms_p90") = (Util.percentile(plain.latenciesMs, 90), "ms")
      } else {
        val sc = spark.sparkContext
        val listener = new TraceListener
        org.apache.spark.BenchBus.drain(sc)
        ctx.layers.clear()
        Jvm.resetHeapPeak()
        val gc0 = Jvm.gcMs()
        sc.addSparkListener(listener)
        ctx.layers.tracing = true
        val traced = try w.measure(ctx, opts.seconds)
          finally {
            ctx.layers.tracing = false
            org.apache.spark.BenchBus.drain(sc)
            sc.removeSparkListener(listener)
          }
        val gcMs = (Jvm.gcMs() - gc0).toDouble
        val heapMb = Jvm.heapPeakMb()
        val calls = ctx.layers.snapshot()
        val report = listener.report(calls) ++ traced.layerExtras ++
          w.traceExtras(ctx) ++ Map(
          "spark.gc_ms" -> gcMs,
          "jvm.heap_peak_mb" -> heapMb,
          "trace_overhead_share" -> (traced.unitWallS / plain.unitWallS - 1.0),
          "failed_share" -> ctx.failed.toDouble / math.max(1L, ctx.attempted))
        PerLayer.names.foreach { case (n, unit) => metrics(n) = (report.getOrElse(n, 0.0), unit) }
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        ctx.attempted += 1
        ctx.failed += 1
        ctx.problems += s"${e.getClass.getSimpleName}: ${e.getMessage}"
    } finally spark.stop()
    Files.writeString(opts.out, Json.result(ctx, metrics.toSeq))
  }
}

/** The per-layer metric list, in report order, with units. */
object PerLayer {
  private val perLayer = Seq("calls" -> "count", "self_ms" -> "ms", "jobs" -> "count",
    "stages" -> "count", "task_ms" -> "ms", "shuffle_bytes" -> "bytes",
    "driver_gap_ms" -> "ms")

  val names: Seq[(String, String)] =
    Layers.all.flatMap(l => perLayer.map { case (m, u) => s"$l.$m" -> u }) ++ Seq(
      "sources.files" -> "count", "sources.rows" -> "count",
      "sources.input_bytes" -> "bytes", "sources.latest_offset_ms" -> "ms",
      "sources.get_batch_ms" -> "ms",
      "spark.query_planning_ms" -> "ms", "spark.wal_commit_ms" -> "ms",
      "spark.triggers" -> "count", "spark.jobs" -> "count", "spark.stages" -> "count",
      "spark.tasks" -> "count", "spark.gc_ms" -> "ms", "spark.spill_bytes" -> "bytes",
      "cdc.rows_in" -> "count", "cdc.rows_applied" -> "count", "cdc.dlq_rows" -> "count",
      "cdc.apply_ratio" -> "ratio",
      "ops.dedup.candidate_pairs" -> "count", "ops.dedup.verified_pairs" -> "count",
      "ops.dedup.precision" -> "ratio",
      "ops.materialize.pins" -> "count", "ops.materialize.pin_bytes" -> "bytes",
      "jvm.heap_peak_mb" -> "MiB",
      "trace_overhead_share" -> "ratio", "trace.task_ms" -> "ms",
      "trace.attributed_share" -> "ratio", "failed_share" -> "ratio")
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def result(ctx: Ctx, metrics: Seq[(String, (Double, String))]): String = {
    val m = metrics.map { case (k, (v, u)) => s"${str(k)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }
    val correct = ctx.failed == 0 && ctx.attempted > 0
    s"""{"correct": $correct, "attempted": ${ctx.attempted}, "failed": ${ctx.failed}, """ +
      s""""problems": [${ctx.problems.map(str).mkString(", ")}], """ +
      s""""metrics": {${m.mkString(", ")}}}""" + "\n"
  }
}
