package graftbench

import java.lang.management.ManagementFactory
import graft.ops.Materialize
import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.scheduler._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Layer labels. The benchmark wraps every call into a graft module in
  * `layers(name) { ... }`: the call's wall time is booked to the layer,
  * and the Spark local property [[Layers.Key]] names the layer on every
  * job the call submits.
  */
object Layers {
  val Key = "graftbench.layer"
  val all: Seq[String] = Seq("sources", "cdc", "script", "pipeline",
    "ops.text", "ops.dedup", "ops.similarity", "queries")

  /** Label of the benchmark's own result checks, which the trace leaves out. */
  val Check = "bench.check"

  final case class Call(layer: String, startMs: Long, endMs: Long, nanos: Long)
}

final class Layers(sc: SparkContext) {
  import Layers.Call
  private val calls = mutable.ArrayBuffer.empty[Call]

  /** True during the traced pass; see [[boundary]]. */
  @volatile var tracing = false

  /** Pins `df` at a layer boundary during the traced pass only, so that
    * every job the next layer submits belongs to it. The untraced pass
    * composes the layers lazily, with only the pins graft's own
    * end-to-end queries use; `trace_overhead_share` reports what the
    * extra pins cost.
    */
  def boundary(df: DataFrame): DataFrame = if (tracing) Materialize.barrier(df) else df

  def apply[T](layer: String)(body: => T): T = {
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try labelled(layer)(body)
    finally {
      val c = Call(layer, w0, System.currentTimeMillis(), System.nanoTime() - t0)
      calls.synchronized { calls += c }
    }
  }

  /** Runs a result check: its jobs carry [[Layers.Check]] and no call is booked. */
  def check[T](body: => T): T = labelled(Layers.Check)(body)

  private def labelled[T](label: String)(body: => T): T = {
    val prev = sc.getLocalProperty(Layers.Key)
    sc.setLocalProperty(Layers.Key, label)
    try body finally sc.setLocalProperty(Layers.Key, prev)
  }

  def snapshot(): Seq[Call] = calls.synchronized(calls.toList)
  def clear(): Unit = calls.synchronized(calls.clear())
}

/** The traced run's one listener: jobs, stages, tasks, shuffle, spill
  * and stored blocks, attributed to layers when [[report]] runs.
  */
object TraceListener {
  private final case class Job(id: Int, layer: Option[String], startMs: Long, stages: Seq[Int])
  private final case class Stage(id: Int, submitMs: Long, doneMs: Long)
  private final class TaskSum {
    var n = 0L; var ms = 0L; var shuffle = 0L; var spill = 0L
  }
}

final class TraceListener extends SparkListener {
  import TraceListener._

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stages = mutable.ArrayBuffer.empty[Stage]
  private val tasks = mutable.LongMap.empty[TaskSum]
  private val pinnedRdds = mutable.Set.empty[Int]
  private var pinBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val label = Option(e.properties).flatMap(p => Option(p.getProperty(Layers.Key)))
    jobs += Job(e.jobId, label, e.time, e.stageIds)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages += Stage(i.stageId, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = tasks.getOrElseUpdate(e.stageId.toLong, new TaskSum)
    s.n += 1
    s.ms += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.shuffle += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.storageLevel.isValid) b.blockId.asRDDId.foreach { r =>
      pinnedRdds += r.rddId
      pinBytes += b.memSize + b.diskSize
    }
  }

  /** Per-layer sums. A job without a label (one submitted from a thread
    * that does not inherit the caller's properties) is booked to the
    * layer whose call was running when the job started. Jobs of the
    * benchmark's result checks are left out of every figure.
    */
  def report(calls: Seq[Layers.Call]): Map[String, Double] = synchronized {
    def layerAt(ms: Long): Option[String] =
      calls.find(c => c.startMs <= ms && ms <= c.endMs).map(_.layer)
    val stageLayer = mutable.LongMap.empty[String]
    this.jobs.sortBy(_.id).foreach { j =>
      j.layer.orElse(layerAt(j.startMs)).foreach { l =>
        j.stages.foreach(s => if (!stageLayer.contains(s.toLong)) stageLayer(s.toLong) = l)
      }
    }
    val checks = stageLayer.collect { case (s, Layers.Check) => s }.toSet
    val jobs = this.jobs.filterNot(_.layer.contains(Layers.Check))
    val stages = this.stages.filterNot(s => checks(s.id.toLong))
    val tasks = this.tasks.filter { case (s, _) => !checks(s) }
    val jobLayer = jobs.map(j => j.layer.orElse(layerAt(j.startMs)))
    val out = mutable.LinkedHashMap.empty[String, Double]
    var attributedMs = 0L
    Layers.all.foreach { l =>
      val mine = calls.filter(_.layer == l)
      val myStages = stages.filter(s => stageLayer.get(s.id.toLong).contains(l))
      val sums = myStages.map(_.id).distinct.flatMap(id => tasks.get(id.toLong))
      val selfMs = mine.map(_.nanos).sum / 1e6
      out(s"$l.calls") = mine.size.toDouble
      out(s"$l.self_ms") = selfMs
      out(s"$l.jobs") = jobLayer.count(_.contains(l)).toDouble
      out(s"$l.stages") = myStages.size.toDouble
      out(s"$l.task_ms") = sums.map(_.ms).sum.toDouble
      out(s"$l.shuffle_bytes") = sums.map(_.shuffle).sum.toDouble
      out(s"$l.driver_gap_ms") = math.max(0.0, selfMs - unionMs(myStages.map(s => (s.submitMs, s.doneMs)).toSeq))
      attributedMs += sums.map(_.ms).sum
    }
    val all = tasks.values
    val totalMs = all.map(_.ms).sum
    out("spark.jobs") = jobs.size.toDouble
    out("spark.stages") = stages.size.toDouble
    out("spark.tasks") = all.map(_.n).sum.toDouble
    out("spark.spill_bytes") = all.map(_.spill).sum.toDouble
    out("ops.materialize.pins") = pinnedRdds.size.toDouble
    out("ops.materialize.pin_bytes") = pinBytes.toDouble
    out("trace.task_ms") = totalMs.toDouble
    out("trace.attributed_share") = if (totalMs == 0) 1.0 else attributedMs.toDouble / totalMs
    out.toMap
  }

  private def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._1 > 0 && x._2 >= x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }
}

/** JVM-wide counters read around the traced region. */
object Jvm {
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** Sum of the heap pools' peaks since the last reset, in MiB. */
  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
}
