package graftbench

import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded curation corpus and its plain-Scala reference.
  *
  * Ordinary documents are chains of stock phrases joined by stopwords,
  * so their bigrams recur and a bigram LM trained on a slice of the
  * corpus scores them low. Planted among them:
  *  - near-duplicate clusters: a base document plus copies that each
  *    change one word (word 3-shingle Jaccard to the base >= 0.85);
  *  - PII: e-mail addresses, phone numbers and IPv4 literals;
  *  - Gopher failures: too short, `lorem ipsum`, `{`, or `#`-heavy;
  *  - gibberish: words outside the phrase vocabulary, which pass the
  *    Gopher rules and fail the LM gate.
  * Every document has an embedding; members of an embedding cluster
  * are the base vector plus small noise (cosine >= 0.99), all other
  * vectors are independent Gaussians (cosine far below 0.9).
  */
object Corpus {

  /** Corpus proportions, shares of `docs`. They are assumptions, chosen
    * so that every filter and both near-duplicate passes remove tens of
    * documents per job; they are not measured from a real crawl.
    */
  final case class Shape(docs: Int, dim: Int = 64, clusterShare: Double = 0.12,
      piiShare: Double = 0.06, gopherFailShare: Double = 0.05,
      gibberishShare: Double = 0.04, vecClusterShare: Double = 0.06)

  final case class Doc(id: Long, text: String, emb: Array[Float])

  /** What the generator planted, by construction. */
  final case class Planted(textClusters: Seq[Seq[Long]], vecClusters: Seq[Seq[Long]],
      gopherFails: Set[Long], gibberish: Set[Long], pii: Set[Long])

  val lmCut: Double = 9.0
  val dupThreshold: Double = 0.8
  val vecThreshold: Double = 0.9

  /** The LM reference slice: documents whose id is a multiple of 4. */
  def isLmRef(id: Long): Boolean = id % 4 == 0

  private val syllables = Array("ka", "lo", "mi", "ne", "ru", "sa", "to", "vi",
    "ba", "de", "fo", "gu", "ha", "ji", "pe", "qo", "ri", "su", "te", "wa")
  private val stop = Array("the", "and", "of", "to", "in", "is", "a", "on")

  private def word(rnd: SplittableRandom, syl: Int): String =
    (0 until syl).map(_ => syllables(rnd.nextInt(syllables.length))).mkString

  def generate(shape: Shape, seed: Long): (IndexedSeq[Doc], Planted) = {
    val rnd = new SplittableRandom(seed)
    val vocab = Array.fill(2000)(word(rnd, 2 + rnd.nextInt(2)))
    val rare = Array.fill(3000)("x" + word(rnd, 2 + rnd.nextInt(2)))
    val zipf = new CdcFeed.Zipf(vocab.length, 1.0)
    val phrases = Array.fill(600)(Array.fill(4 + rnd.nextInt(4))(vocab(zipf.sample(rnd))))
    val phraseZipf = new CdcFeed.Zipf(phrases.length, 0.8)

    def ordinary(minWords: Int): Array[String] = {
      val out = mutable.ArrayBuffer.empty[String]
      val target = minWords + rnd.nextInt(60)
      while (out.size < target) {
        out ++= phrases(phraseZipf.sample(rnd))
        out += stop(rnd.nextInt(stop.length))
      }
      out.toArray
    }
    def gibberish(): Array[String] = Array.tabulate(40 + rnd.nextInt(40)) { i =>
      if (i % 6 == 5) stop(rnd.nextInt(stop.length)) else rare(rnd.nextInt(rare.length))
    }
    def pii(): String = rnd.nextInt(3) match {
      case 0 => s"${word(rnd, 2)}.${word(rnd, 2)}@${word(rnd, 3)}.com"
      case 1 => f"${rnd.nextInt(900) + 100}%03d-${rnd.nextInt(1000)}%03d-${rnd.nextInt(10000)}%04d"
      case _ => s"10.${rnd.nextInt(256)}.${rnd.nextInt(256)}.${rnd.nextInt(256)}"
    }
    def gopherFail(): String = rnd.nextInt(4) match {
      case 0 => ordinary(0).take(12).mkString(" ")
      case 1 => (ordinary(40) ++ Array("lorem", "ipsum")).mkString(" ")
      case 2 => (ordinary(40) :+ "{x}").mkString(" ")
      case _ => ordinary(40).map(w => if (rnd.nextInt(4) == 0) s"#$w" else w).mkString(" ")
    }
    def gauss(): Array[Float] = Array.fill(shape.dim)(rnd.nextGaussian().toFloat)
    def near(base: Array[Float]): Array[Float] =
      base.map(x => (x + 0.02 * rnd.nextGaussian()).toFloat)

    def shuffledIds(): Array[Long] = {
      val a = Array.tabulate(shape.docs)(_.toLong)
      for (i <- a.indices.reverse) {
        val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a
    }
    // ids are handed out in a seeded shuffle, so planted documents are
    // scattered over the id range and over partitions
    val ids = shuffledIds()
    var next = 0
    def take(): Long = { val id = ids(next); next += 1; id }
    val texts = mutable.LongMap.empty[String]
    val textClusters = mutable.ArrayBuffer.empty[Seq[Long]]
    val gopherFails = mutable.Set.empty[Long]
    val gib = mutable.Set.empty[Long]
    val piiDocs = mutable.Set.empty[Long]

    // near-duplicate clusters: copies change one word each, at distinct
    // positions away from the ends
    val clusterDocs = (shape.docs * shape.clusterShare).toInt
    var planted = 0
    while (planted + 5 <= clusterDocs) {
      val size = 2 + rnd.nextInt(4)
      val base = ordinary(60)
      val members = (0 until size).map(_ => take())
      val positions = rnd.ints(0, base.length - 6).distinct().limit(size.toLong)
        .toArray.map(_ + 3)
      members.zipWithIndex.foreach { case (id, k) =>
        val words = base.clone()
        if (k > 0) words(positions(k)) = rare(rnd.nextInt(rare.length))
        texts(id) = words.mkString(" ")
      }
      textClusters += members.sorted
      planted += size
    }
    for (_ <- 0 until (shape.docs * shape.gopherFailShare).toInt) {
      val id = take(); texts(id) = gopherFail(); gopherFails += id
    }
    for (_ <- 0 until (shape.docs * shape.gibberishShare).toInt) {
      val id = take(); texts(id) = gibberish().mkString(" "); gib += id
    }
    for (_ <- 0 until (shape.docs * shape.piiShare).toInt) {
      val id = take()
      val w = ordinary(40)
      w(rnd.nextInt(w.length)) = pii()
      texts(id) = w.mkString(" "); piiDocs += id
    }
    while (next < ids.length) { val id = take(); texts(id) = ordinary(40).mkString(" ") }

    // embedding clusters over a seeded sample of ids, sizes 2..4
    val embs = mutable.LongMap.empty[Array[Float]]
    val vecClusters = mutable.ArrayBuffer.empty[Seq[Long]]
    val vecIds = shuffledIds().take((shape.docs * shape.vecClusterShare).toInt)
    vecIds.grouped(3).foreach { g =>
      if (g.length >= 2) {
        val base = gauss()
        g.zipWithIndex.foreach { case (id, k) => embs(id) = if (k == 0) base else near(base) }
        vecClusters += g.toSeq.sorted
      }
    }
    val docs = (0L until shape.docs.toLong).map { id =>
      Doc(id, texts(id), embs.getOrElseUpdate(id, gauss()))
    }
    (docs, Planted(textClusters.toSeq, vecClusters.toSeq, gopherFails.toSet,
      gib.toSet, piiDocs.toSet))
  }

  // ---- plain-Scala mirrors of the operators the curation job runs ----

  private val emailRe = graft.ops.TextOps.emailRe.r
  private val phoneRe = graft.ops.TextOps.phoneRe.r
  private val ipRe = graft.ops.TextOps.ipRe.r

  def scrub(t: String): String =
    ipRe.replaceAllIn(phoneRe.replaceAllIn(emailRe.replaceAllIn(t, "<EMAIL>"), "<PHONE>"), "<IP>")

  def tokens(t: String): Array[String] = t.trim.toLowerCase.split("\\s+", -1)

  private def count(t: String, s: String): Long =
    (t.length - t.replace(s, "").length).toLong / s.length

  /** TextOps.gopherFilters' `keep` verdict with its default bounds. */
  def gopherKeep(t: String): Boolean = {
    val toks = tokens(t)
    val n = toks.length.toLong
    val meanLen = t.replaceAll("\\s", "").length.toDouble / n
    val alpha = toks.count(w => "[a-z]".r.findFirstIn(w).isDefined).toDouble / n
    val sym = (count(t, "#") + count(t, "...")).toDouble / n
    val stopHits = toks.count(graft.ops.TextOps.stopwords.contains)
    n >= 30 && n <= 100000 && meanLen >= 3.0 && meanLen <= 10.0 && sym <= 0.1 &&
      alpha > 0.8 && stopHits >= 2 && !t.contains("{") && !t.toLowerCase.contains("lorem ipsum")
  }

  private def bigrams(t: String): Iterator[(String, String)] = {
    val toks = tokens(t)
    toks.iterator.zip(toks.iterator.drop(1))
  }

  /** TextOps.trainLm + scoreLm's `mean_bits`, integer-exact. */
  final class Lm(ref: Iterable[String]) {
    private val cPw = mutable.HashMap.empty[(String, String), Long]
    private val cP = mutable.HashMap.empty[String, Long]
    private val vocab: Long = {
      val seen = mutable.HashSet.empty[String]
      ref.foreach { t =>
        tokens(t).foreach(seen += _)
        bigrams(t).foreach { b =>
          cPw(b) = cPw.getOrElse(b, 0L) + 1L
          cP(b._1) = cP.getOrElse(b._1, 0L) + 1L
        }
      }
      seen.size.toLong
    }
    def meanBits(t: String): Double = {
      var n = 0L
      var bits = 0L
      bigrams(t).foreach { b =>
        val q = (cP.getOrElse(b._1, 0L) + vocab) / (cPw.getOrElse(b, 0L) + 1L)
        bits += java.lang.Long.toBinaryString(q).length
        n += 1
      }
      if (n == 0) 0.0 else bits.toDouble / n.toDouble
    }
  }

  def shingles(t: String): Set[String] = {
    val toks = tokens(t)
    if (toks.length < 3) Set(toks.mkString(" "))
    else toks.sliding(3).map(_.mkString(" ")).toSet
  }

  /** Jaccard similarity of the word 3-shingle sets, as Dedup verifies it. */
  def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    (x intersect y).size.toDouble / (x union y).size.toDouble
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
    d / math.sqrt(na * nb)
  }

  /** Components of the graph on `ids` whose edges are the pairs `linked`
    * accepts; returns every member that is not its component's minimum.
    */
  private def nonMinMembers(ids: Seq[Long], linked: (Long, Long) => Boolean): Seq[Long] = {
    val parent = mutable.LongMap(ids.map(i => i -> i): _*)
    def find(i: Long): Long = if (parent(i) == i) i else find(parent(i))
    for (a <- ids; b <- ids if a < b && linked(a, b)) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    ids.filter(i => find(i) != i)
  }

  /** The expected keep manifest: documents that pass the PII scrub,
    * Gopher rules and LM gate, minus the non-minimum members of each
    * near-duplicate component among them. Components are searched inside
    * the planted clusters only (word 3-shingle Jaccard >= dupThreshold on
    * the scrubbed text, cosine >= vecThreshold on the embedding); the
    * generator keeps unrelated documents far below both thresholds.
    */
  def expectedKeep(docs: IndexedSeq[Doc], planted: Planted): Set[Long] = {
    val lm = new Lm(docs.filter(d => isLmRef(d.id)).map(_.text))
    val scrubbed = docs.iterator.map(d => d.id -> scrub(d.text)).toMap
    val survivors = docs.iterator.map(_.id).filter { id =>
      gopherKeep(scrubbed(id)) && lm.meanBits(scrubbed(id)) <= lmCut
    }.toSet
    val textLosers = planted.textClusters.flatMap(c => nonMinMembers(c.filter(survivors),
      (a, b) => jaccard(scrubbed(a), scrubbed(b)) >= dupThreshold))
    val vecLosers = planted.vecClusters.flatMap(c => nonMinMembers(c.filter(survivors),
      (a, b) => cosine(docs(a.toInt).emb, docs(b.toInt).emb) >= vecThreshold))
    survivors -- textLosers -- vecLosers
  }
}
