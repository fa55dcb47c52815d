package graftbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The benchmark's generators and references: one seed gives the same
  * bytes, the planted structure is what the references assume, and on a
  * tiny seed graft's outputs equal the references.
  */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val work: Path = Files.createTempDirectory("graftbench-spec")
  private lazy val spark: SparkSession = Main.session(2, work)

  override def afterAll(): Unit = {
    spark.stop()
    Util.rmTree(work)
  }

  private def ctx(name: String, seed: Long): Ctx =
    new Ctx(spark, Opts(name, seed, 1.0, trace = false, work.resolve(name), work.resolve(s"$name.json"), ""))

  private def bytesOf(dir: Path): Map[String, Seq[Byte]] =
    Files.list(dir).iterator().asScala.toSeq
      .map(f => f.getFileName.toString -> Files.readAllBytes(f).toSeq).toMap

  private val tinyFeed = CdcFeed.Shape(keys = 300, mutations = 3000, lateWindow = 400,
    malformedShare = 0.03)

  test("one seed gives byte-identical changefeed buckets, another seed does not") {
    val dirs = Seq(7L, 7L, 8L).zipWithIndex.map { case (seed, i) =>
      val d = work.resolve(s"bucket$i")
      CdcFeed.writeBucket(d, CdcFeed.catchupLines(tinyFeed, seed), perFile = 100, filesPerMarker = 5)
      bytesOf(d)
    }
    assert(dirs(0) == dirs(1))
    assert(dirs(0) != dirs(2))
    assert(dirs(0).keys.count(_.endsWith(".RESOLVED")) > 1)
    assert(dirs(0).keys.max.endsWith(".RESOLVED")) // the last object is finalized
  }

  test("one seed gives the same corpus") {
    val a = Corpus.generate(Corpus.Shape(docs = 300), 5L)
    val b = Corpus.generate(Corpus.Shape(docs = 300), 5L)
    assert(a._1.map(d => (d.id, d.text, d.emb.toSeq)) == b._1.map(d => (d.id, d.text, d.emb.toSeq)))
    assert(a._2 == b._2)
  }

  test("the feed carries every case the reference handles") {
    val lines = CdcFeed.catchupLines(tinyFeed, 3L)
    assert(lines.exists(_.malformed))
    assert(lines.exists(_.row.isDelete))
    assert(lines.map(_.json).distinct.size < lines.size) // re-delivered copies
    val hlcs = lines.filterNot(_.malformed).map(_.row.nanos)
    assert(hlcs.zip(hlcs.drop(1)).exists { case (a, b) => a > b }) // out of order
    val target = CdcFeed.standingTarget(tinyFeed, 3L).map(r => r.id -> r).toMap
    // some late lines lose to the standing target row
    assert(lines.exists(l => !l.malformed && target.get(l.row.id).exists(t => !l.row.hlcAbove(t))))
  }

  test("on a tiny seed the CDC pipeline's target and DLQ equal the reference") {
    val c = ctx("cdc", 11L)
    val lines = CdcFeed.catchupLines(tinyFeed, 11L)
    val standingRows = CdcFeed.standingTarget(tinyFeed, 11L)
    val bucket = c.freshDir("bucket")
    CdcFeed.writeBucket(bucket, lines, perFile = 100, filesPerMarker = 5)
    val standing = c.freshDir("standing")
    CdcPipeline.writeStanding(spark, standingRows, standing)
    // four objects per trigger: late lines and tombstones cross triggers
    val (p, q) = CdcPipeline.drain(spark, c.layers, bucket, c.freshDir("run"), standing, 4)
    assert(CdcPipeline.dataBatches(q).size == 8)
    val ref = new CdcFeed.Reference(standingRows)
    lines.foreach(ref.apply)
    assert(p.verify(ref).isEmpty)
  }

  test("the planted corpus structure is what the curation reference assumes") {
    val (docs, planted) = Corpus.generate(Corpus.Shape(docs = 800), 13L)
    val lm = new Corpus.Lm(docs.filter(d => Corpus.isLmRef(d.id)).map(_.text))
    val scrubbed = docs.map(d => Corpus.scrub(d.text))
    assert(planted.gopherFails.forall(id => !Corpus.gopherKeep(scrubbed(id.toInt))))
    assert(planted.pii.forall(id => scrubbed(id.toInt) != docs(id.toInt).text))
    val bits = docs.indices.map(i => lm.meanBits(scrubbed(i)))
    assert(planted.gibberish.forall(id => bits(id.toInt) > Corpus.lmCut))
    val ordinary = docs.indices.map(_.toLong).toSet -- planted.gibberish -- planted.gopherFails
    info(f"LM mean bits: gibberish min ${planted.gibberish.map(i => bits(i.toInt)).min}%.2f, " +
      f"ordinary p50 ${Util.median(ordinary.toSeq.map(i => bits(i.toInt)))}%.2f " +
      f"p95 ${Util.percentile(ordinary.toSeq.map(i => bits(i.toInt)), 95)}%.2f")
    assert(ordinary.count(id => bits(id.toInt) <= Corpus.lmCut) >= ordinary.size * 0.9)
    // near-duplicate pairs exist only inside planted clusters
    val textMate = planted.textClusters.flatMap(c => c.map(_ -> c.toSet)).toMap
    val vecMate = planted.vecClusters.flatMap(c => c.map(_ -> c.toSet)).toMap
    val sh = scrubbed.map(Corpus.shingles)
    for (a <- docs.indices; b <- a + 1 until docs.size) {
      if ((sh(a) intersect sh(b)).size >= Corpus.dupThreshold * (sh(a) union sh(b)).size)
        assert(textMate.get(a.toLong).exists(_.contains(b.toLong)), s"unplanted text pair $a $b")
      if (Corpus.cosine(docs(a).emb, docs(b).emb) >= Corpus.vecThreshold)
        assert(vecMate.get(a.toLong).exists(_.contains(b.toLong)), s"unplanted vector pair $a $b")
    }
    // every cluster has a member (its base) near every other member
    assert(planted.textClusters.forall(c => c.exists(b => c.forall(m =>
      m == b || Corpus.jaccard(scrubbed(b.toInt), scrubbed(m.toInt)) >= Corpus.dupThreshold))))
  }

  test("on a tiny seed the curation keep manifest equals the reference") {
    val c = ctx("cur", 17L)
    val w = new CurationBatch(Corpus.Shape(docs = 400))
    w.generate(c, 0)
    val out = c.freshDir("keep")
    w.job(c, w.corpusDocs(c), out)
    val want = w.expected
    assert(want.nonEmpty)
    assert(w.manifest(c, out) == want)
  }
}
