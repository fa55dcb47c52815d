package graftbench

import java.nio.file.{Files, Path}
import graft.cdc.{Changefeed, Conveyor, Dlq, Msort}
import graft.ops.Materialize
import graft.script.UserScript
import graft.sources.ChangefeedOffset
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The per-trigger CDC stage chain, the `cdc_pipeline_e2e` shape:
  * decode (sources) → DLQ split of malformed HLCs, exact-duplicate
  * removal and `Conveyor.accept` (cdc) → `UserScript` map, target
  * lookup, dispatch and deletesTo (script) → last-one-wins apply into a
  * new version of the target table (pipeline).
  *
  * The DLQ split comes before dedup because a malformed HLC has no time
  * to dedup on. As in `cdc_pipeline_e2e`, the one pin is the decoded
  * source frame; the later stages compose lazily into the target write.
  * The traced pass adds a pin at each later layer boundary
  * ([[Layers.boundary]]) so that every Spark job belongs to one layer.
  * The target keeps tombstone rows (a late upsert must not resurrect a
  * deleted key); the visible table filters them.
  */
final class CdcPipeline(spark: SparkSession, layers: Layers, root: Path, standing: String) {
  import CdcPipeline._
  private var version = 0
  private def path(v: Int): String = if (v == 0) standing else root.resolve(s"target/v$v").toString
  private val dlqPath = root.resolve("dlq").toString
  private val conveyors = new Conveyor.Conveyors(Conveyor.Config(bestEffortOnly = true))

  def batch(df: DataFrame): Unit = {
    val decoded = layers("sources") {
      Materialize.barrier(df.select(
        from_json(col("key"), ArrayType(LongType)).getItem(0).as("id"),
        from_json(col("data"), dataSchema).as("d"),
        col("hlc.nanos").as("nanos"), col("hlc.logical").as("logical"), col("is_delete"))
        .select(col("id"), col("d.v").as("v"), col("d.kind").as("kind"), col("d.seq").as("seq"),
          col("nanos"), col("logical"), col("is_delete")))
    }
    val accepted = layers("cdc") {
      val (ok, dead) = Dlq.route(decoded, Seq("malformed_hlc" -> col("nanos").isNull))
      dead.write.mode("append").parquet(dlqPath)
      val unique = Msort.uniqueByTimeKey(ok, Seq("id"), "nanos", col("logical"))
      val conveyor = conveyors.refresh("target", unique, pmod(col("id"), lit(4L)),
        col("nanos"), col("nanos"), 0L)
      layers.boundary(conveyor.accept(unique, Seq("id"), order, col("nanos"))
        .drop("speculative"))
    }
    val target = spark.read.parquet(path(version))
    val routed = layers("script") {
      val legs = UserScript.compile(script, sides = Map("target" -> target))
        .dispatch(accepted).toSeq.sortBy(_._1)
        .map { case (route, d) => d.select(targetCols.map(col) :+ lit(route).as("route"): _*) }
      layers.boundary(legs.reduce(_ unionByName _))
    }
    layers("pipeline") {
      graft.Pipeline(target.unionByName(routed.select(targetCols.map(col): _*)),
          keys = Seq("id"), order = order)
        .latestByKey()
        .sink(path(version + 1))
    }
    version += 1
    if (version >= 2) Util.rmTree(root.resolve(s"target/v${version - 1}"))
  }

  def visible(): DataFrame = graft.Pipeline(spark.read.parquet(path(version)), Seq("id"), order)
    .dropDeletesWhere(col("is_delete")).state

  def dlqSeqs(): Seq[Long] =
    if (!Files.exists(root.resolve("dlq"))) Nil
    else spark.read.parquet(dlqPath).select("seq").collect().map(_.getLong(0)).toSeq.sorted

  /** Compares the visible target and the DLQ with the reference. */
  def verify(ref: CdcFeed.Reference): Option[String] = layers.check {
    val got = visible().select("id", "v", "seq", "nanos", "logical").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4))).toMap
    val want = ref.visible.map { case (k, r) => k -> (r.v, r.seq, r.nanos, r.logical) }
    val dlq = dlqSeqs()
    val wantDlq = ref.dlqSeqs.sorted.toSeq
    if (got != want) {
      val diff = (got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k))
      Some(s"target differs from reference on ${diff.size} keys, e.g. " +
        diff.take(3).map(k => s"$k: got ${got.get(k)} want ${want.get(k)}").mkString("; "))
    } else if (dlq != wantDlq) Some(s"DLQ has ${dlq.size} rows, reference ${wantDlq.size}")
    else None
  }
}

object CdcPipeline {
  val order = struct(col("nanos"), col("logical"))
  val dataSchema: StructType = StructType(Seq(StructField("id", LongType),
    StructField("v", LongType), StructField("kind", StringType), StructField("seq", LongType)))
  val targetCols: Seq[String] = Seq("id", "v", "kind", "seq", "nanos", "logical", "is_delete")

  /** The user script: a derived op column, a lookup of the key's target
    * row, deletes routed apart, upserts split into inserts and updates.
    */
  val script: String =
    """{"stages": [
      |   {"op": "map", "cols": {"__op": "case when is_delete then 'd' else 'u' end"}},
      |   {"op": "lookup", "table": "target", "on": {"id": "id"},
      |    "select": {"prev_nanos": "nanos"}}],
      | "deletesTo": "tombstones",
      | "dispatch": {
      |   "routes": [{"name": "inserts", "when": "prev_nanos is null"}],
      |   "default": "updates"}}""".stripMargin

  def writeStanding(spark: SparkSession, rows: Seq[CdcFeed.Row], dir: Path): Unit = {
    import spark.implicits._
    rows.map(r => (r.id, r.v, r.kind, r.seq, r.nanos, r.logical, r.isDelete))
      .toDF(targetCols: _*).coalesce(1).write.mode("overwrite").parquet(dir.toString)
  }

  /** Streaming progress of the batches that carried data. */
  def dataBatches(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(p => p.sources.nonEmpty &&
      p.sources(0).endOffset != null && p.sources(0).endOffset != p.sources(0).startOffset)

  private def offset(json: String): ChangefeedOffset =
    if (json == null) ChangefeedOffset("", 0) else ChangefeedOffset.fromJson(json)

  /** The per-layer figures the streaming progress carries. */
  def progressExtras(ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    def d(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum
    Map(
      "sources.files" -> ps.map { p =>
        val s = offset(p.sources(0).startOffset).below
        offset(p.sources(0).endOffset).below - math.max(0, s)
      }.sum.toDouble,
      "sources.rows" -> ps.map(_.numInputRows).sum.toDouble,
      "sources.latest_offset_ms" -> d("latestOffset"),
      "sources.get_batch_ms" -> d("getBatch"),
      "spark.query_planning_ms" -> d("queryPlanning"),
      "spark.wal_commit_ms" -> d("walCommit"),
      "spark.triggers" -> ps.size.toDouble)
  }

  /** Row counts through the cdc layer, read after the run from the DLQ
    * and the reference (so the timed path runs no extra count jobs).
    */
  def cdcExtras(rowsIn: Long, dlqRows: Long): Map[String, Double] = Map(
    "cdc.rows_in" -> rowsIn.toDouble,
    "cdc.rows_applied" -> (rowsIn - dlqRows).toDouble,
    "cdc.dlq_rows" -> dlqRows.toDouble,
    "cdc.apply_ratio" -> (if (rowsIn == 0) 0.0 else (rowsIn - dlqRows).toDouble / rowsIn))

  /** Drains `bucket` with Trigger.AvailableNow into a fresh pipeline
    * rooted at `root`, starting from the standing table.
    */
  def drain(spark: SparkSession, layers: Layers, bucket: Path, root: Path, standing: Path,
      maxFiles: Int): (CdcPipeline, StreamingQuery) = {
    val p = new CdcPipeline(spark, layers, root, standing.toString)
    val q = layers("sources")(Changefeed.readStream(spark, bucket.toString, maxFiles))
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) => p.batch(b) }
      .option("checkpointLocation", root.resolve("ck").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    (p, q)
  }
}

/** Closed-loop backfill: drain a seeded bucket with Trigger.AvailableNow,
  * again and again from the standing target, `seconds / nominalDrainS`
  * times.
  */
final class CdcCatchup extends Workload {
  import CdcPipeline._
  val shape = CdcFeed.Shape(keys = 20000, mutations = 64000)
  val perFile = 1000
  /** Above the bucket's object count: one trigger drains it. */
  val maxFilesPerTrigger = 80
  /** A drain's wall on a 4-core machine; see [[Util.repeat]]. */
  val nominalDrainS = 4.0
  private var lines: IndexedSeq[CdcFeed.Line] = _
  private var standingRows: IndexedSeq[CdcFeed.Row] = _
  private var bucket: Path = _
  private var standing: Path = _

  def generate(ctx: Ctx, rep: Int): Unit = {
    lines = CdcFeed.catchupLines(shape, ctx.opts.seed)
    standingRows = CdcFeed.standingTarget(shape, ctx.opts.seed)
    bucket = ctx.freshDir("cdc/bucket")
    CdcFeed.writeBucket(bucket, lines, perFile, filesPerMarker = 10)
    standing = ctx.freshDir("cdc/standing")
    writeStanding(ctx.spark, standingRows, standing)
  }

  private def bucketBytes: Double = {
    val s = Files.list(bucket)
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".ndjson"))
      .map(Files.size).sum.toDouble
    finally s.close()
  }

  /** One full drain. Drains keep getting faster through the first few
    * (one seed read 4.97, 4.10, 3.91, 3.83 and 3.71 s after a warm-up on
    * an eighth of the bucket); a second warm-up drain would not fit the
    * benchmark's time budget.
    */
  def warmUp(ctx: Ctx): Unit = {
    val root = ctx.freshDir("cdc/warm")
    drain(ctx.spark, ctx.layers, bucket, root, standing, maxFilesPerTrigger)
    Util.rmTree(root)
  }

  def measure(ctx: Ctx, seconds: Double): Measure = {
    val ref = new CdcFeed.Reference(standingRows)
    lines.foreach(ref.apply)
    val triggerMs = mutable.ArrayBuffer.empty[Double]
    val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    val walls = Util.repeat(seconds, nominalS = nominalDrainS) { i =>
      val root = ctx.freshDir(s"cdc/drain$i")
      val d0 = System.nanoTime()
      val (p, q) = drain(ctx.spark, ctx.layers, bucket, root, standing, maxFilesPerTrigger)
      val wall = (System.nanoTime() - d0) / 1e9
      val ps = dataBatches(q)
      progress ++= ps
      triggerMs ++= ps.map(_.durationMs.get("triggerExecution").toDouble)
      ctx.check(p.verify(ref))
      Util.rmTree(root)
      wall
    }
    val drains = walls.size
    Measure(
      itemsPerS = lines.size / Util.median(walls),
      latenciesMs = triggerMs.toSeq,
      unitWallS = Util.median(walls),
      layerExtras = progressExtras(progress.toSeq) ++
        cdcExtras(lines.size.toLong * drains, ref.dlqSeqs.size.toLong * drains) ++
        Map("sources.input_bytes" -> bucketBytes * drains))
  }
}
