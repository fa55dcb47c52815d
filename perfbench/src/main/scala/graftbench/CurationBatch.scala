package graftbench

import java.nio.file.Path
import graft.ops.{Dedup, Materialize, Similarity, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.global
import scala.concurrent.duration.Duration

/** The curation job over a seeded corpus: PII scrub → Gopher rules → LM
  * gate (ops.text) → verified near-duplicate edges and their connected
  * components (ops.dedup) → embedding near-duplicates (ops.similarity) →
  * the keep manifest. The job runs `seconds / nominalJobS` times; every
  * manifest is checked against [[Corpus.expectedKeep]].
  */
final class CurationBatch(shape: Corpus.Shape = Corpus.Shape(docs = 1000)) extends Workload {
  /** The job's wall on a 4-core machine; see [[Util.repeat]]. */
  val nominalJobS = 7.0
  private var corpus: IndexedSeq[Corpus.Doc] = _
  private var planted: Corpus.Planted = _
  private var docsPath: String = _
  private var embsPath: String = _
  private var model: TextOps.LmModel = _

  def generate(ctx: Ctx, rep: Int): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val (d, p) = Corpus.generate(shape, ctx.opts.seed)
    corpus = d
    planted = p
    docsPath = ctx.freshDir("cur/docs").toString
    embsPath = ctx.freshDir("cur/embs").toString
    corpus.map(x => (x.id, x.text)).toDF("doc_id", "text")
      .repartition(4).write.mode("overwrite").parquet(docsPath)
    corpus.map(x => (x.id, x.emb)).toDF("doc_id", "emb")
      .repartition(4).write.mode("overwrite").parquet(embsPath)
    val lmPath = ctx.freshDir("cur/lm").toString
    TextOps.saveLm(TextOps.trainLm(corpusDocs(ctx).filter(col("doc_id") % 4 === 0), "text"), lmPath)
    model = TextOps.loadLm(spark, lmPath)
  }

  /** One full job. Jobs keep getting faster through the first few (one
    * seed read 7.42, 7.09, 6.19 and 6.39 s after a warm-up on an eighth
    * of the corpus); a second warm-up job would not fit the benchmark's
    * time budget.
    */
  def warmUp(ctx: Ctx): Unit = {
    val out = ctx.freshDir("cur/warm")
    job(ctx, corpusDocs(ctx), out)
    Util.rmTree(out)
  }

  private def survivors(ctx: Ctx, docs: DataFrame): DataFrame = ctx.layers("ops.text") {
    val scrubbed = TextOps.piiScrub(docs, "text").select(col("doc_id"), col("scrubbed").as("text"))
    val gated = TextOps.gopherFilters(scrubbed, "text").filter(col("keep")).select("doc_id", "text")
    ctx.layers.boundary(TextOps.scoreLm(model, gated, "doc_id", "text")
      .filter(col("mean_bits") <= Corpus.lmCut).select("doc_id", "text"))
  }

  private[graftbench] def corpusDocs(ctx: Ctx): DataFrame = ctx.spark.read.parquet(docsPath)

  /** Put together the way `corpus_curation_e2e` is: the text-bearing
    * survivors stay lazy, the edge pipeline (with its own pins) runs on a
    * second driver thread while the narrow survivor ids are pinned, and
    * the clusters and embedding near-duplicates read that narrow pin. The
    * traced pass runs the two in turn, so that each job has one layer.
    */
  private[graftbench] def job(ctx: Ctx, docs: DataFrame, out: Path): Unit = {
    val surv = survivors(ctx, docs)
    def edges(): DataFrame = ctx.layers("ops.dedup")(Dedup.verifiedDupEdges(surv, "doc_id",
      "text", threshold = Corpus.dupThreshold, numHashes = 32, bands = 16))
    val edgesF = if (ctx.layers.tracing) Future.successful(edges()) else Future(edges())(global)
    val ids = ctx.layers("ops.text")(Materialize.barrier(surv.select("doc_id")))
    val clusters = ctx.layers("ops.dedup")(Dedup.dupClusters(ids, "doc_id",
      Await.result(edgesF, Duration.Inf)))
    val vecLosers = ctx.layers("ops.similarity") {
      val embs = ctx.spark.read.parquet(embsPath).join(ids, "doc_id")
      ctx.layers.boundary(Similarity.embeddingNearDups(embs, "doc_id", "emb",
          nPlanes = 0, nTables = 0, threshold = Corpus.vecThreshold)
        .select(col("id_b").as("doc_id")).distinct())
    }
    ctx.layers("ops.dedup") {
      clusters.filter(!col("is_dup")).select("doc_id")
        .join(vecLosers, Seq("doc_id"), "left_anti")
        .write.mode("overwrite").parquet(out.toString)
    }
  }

  private[graftbench] def manifest(ctx: Ctx, out: Path): Set[Long] =
    ctx.layers.check(ctx.spark.read.parquet(out.toString).collect().map(_.getLong(0)).toSet)

  private[graftbench] def expected: Set[Long] = Corpus.expectedKeep(corpus, planted)

  def measure(ctx: Ctx, seconds: Double): Measure = {
    val want = expected
    val docs = ctx.spark.read.parquet(docsPath)
    val walls = Util.repeat(seconds, nominalS = nominalJobS) { i =>
      val out = ctx.freshDir(s"cur/keep$i")
      val j0 = System.nanoTime()
      job(ctx, docs, out)
      val wall = (System.nanoTime() - j0) / 1e9
      val got = manifest(ctx, out)
      ctx.check(if (got == want) None else Some(s"keep manifest: ${(got -- want).size} extra, " +
        s"${(want -- got).size} missing of ${want.size}"))
      Util.rmTree(out)
      wall
    }
    val wall = Util.median(walls)
    Measure(corpus.size / wall, walls.map(_ * 1000), wall)
  }

  /** Candidate and verified pair counts, recomputed from the same
    * operators and parameters the job uses.
    */
  override def traceExtras(ctx: Ctx): Map[String, Double] = {
    val surv = survivors(ctx, ctx.spark.read.parquet(docsPath))
    val cands = Dedup.lshCandidates(Dedup.minhashSignatures(surv, "doc_id", "text",
      numHashes = 32), "doc_id", bands = 16, rowsPerBand = 2).count()
    val verified = Dedup.verifiedDupEdges(surv, "doc_id", "text",
      threshold = Corpus.dupThreshold, numHashes = 32, bands = 16).count()
    Map("ops.dedup.candidate_pairs" -> cands.toDouble,
      "ops.dedup.verified_pairs" -> verified.toDouble,
      "ops.dedup.precision" -> (if (cands == 0) 0.0 else verified.toDouble / cands))
  }
}
