package graftbench

import java.nio.file.Files
import graft.SparkEntry
import scala.collection.mutable

/** A fixed, name-stratified slice of `SparkEntry.queries` (every
  * `stride`-th name in sorted order, from `offset`), each query timed as
  * a noop write the way `graft.Bench` times it, by one closed-loop
  * client. The seed permutes the order. The warm-up runs the slice once,
  * writing every result and its DuckDB oracle SQL for the check `run.py`
  * makes after the run.
  */
final class RegistrySweep extends Workload {
  val stride = 26
  val offset = 10
  /** A pass's wall on a 4-core machine; see [[Util.repeat]]. */
  val nominalPassS = 4.0
  override def setupReps: Int = 1
  private var order: Seq[String] = Nil

  def slice: Seq[String] = SparkEntry.queries.keys.toSeq.sorted.zipWithIndex
    .collect { case (n, i) if i % stride == offset => n }

  /** The inputs are the read-only tables; only the order is generated. */
  def generate(ctx: Ctx, rep: Int): Unit = {
    require(ctx.opts.sfDir.nonEmpty, "registry_sweep needs --sf <table dir>")
    order = new scala.util.Random(ctx.opts.seed).shuffle(slice)
  }

  /** The warm-up sweep: every query once, its result written for the
    * oracle check. The first timed pass still runs 5–30% slower per query
    * than the next; a second warm-up sweep would not fit the benchmark's
    * time budget.
    */
  def warmUp(ctx: Ctx): Unit = {
    val out = ctx.freshDir("registry/results")
    order.foreach { n =>
      try SparkEntry.queries(n)(ctx.spark, ctx.opts.sfDir).coalesce(1)
        .write.mode("overwrite").parquet(out.resolve(n).toString)
      catch { case e: Exception => ctx.check(Some(s"$n failed in set-up: ${e.getMessage}")) }
    }
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => order.contains(k) }
    Files.writeString(out.resolve("oracle_sql.json"),
      oracles.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ", ", "}"))
  }

  /** Runs query `n` as a noop write; returns the failure, if any. */
  private def noop(ctx: Ctx, n: String): Option[String] =
    try {
      ctx.layers("queries") {
        SparkEntry.queries(n)(ctx.spark, ctx.opts.sfDir)
          .write.format("noop").mode("overwrite").save()
      }
      None
    } catch { case e: Exception => Some(s"$n failed: ${e.getMessage}") }

  def measure(ctx: Ctx, seconds: Double): Measure = {
    val ms = mutable.ArrayBuffer.empty[Double]
    // two passes at least: one pass has a single sample per query, and
    // the median of six single samples moves with any one of them
    val passes = Util.repeat(seconds, nominalS = nominalPassS, min = 2) { _ =>
      val p0 = System.nanoTime()
      order.foreach { n =>
        val q0 = System.nanoTime()
        val problem = noop(ctx, n)
        ms += (System.nanoTime() - q0) / 1e6
        ctx.check(problem)
      }
      (System.nanoTime() - p0) / 1e9
    }
    System.err.println("[perfbench] query ms: " + order.zip(ms.grouped(order.size).toSeq.transpose)
      .map { case (n, t) => s"$n ${t.map(x => f"$x%.0f").mkString("/")}" }.mkString(", "))
    Measure(ms.size / (ms.sum / 1e3), ms.toSeq, Util.median(passes))
  }
}
