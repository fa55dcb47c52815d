package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded changefeed generator and its plain-Scala reference.
  *
  * A feed is a sequence of ndjson envelope lines in delivery order, the
  * CockroachDB changefeed wire shape graft's source reads:
  * `{"after": {...} | null, "key": [id], "updated": "NNNN.LLLLLLLLLL"}`.
  * Keys follow a Zipf law. The feed carries deletes (`after: null`),
  * re-delivered copies of earlier lines, lines delivered after newer ones
  * (out-of-order HLCs) and a share of malformed `updated` strings.
  *
  * Every well-formed mutation has a distinct HLC, so last-one-wins per
  * key by HLC has exactly one answer; a re-delivered copy is the same
  * line, byte for byte.
  */
object CdcFeed {

  /** Feed proportions. Shares are per generated mutation.
    *
    * These are assumptions, not measured from a production changefeed:
    * no such trace is in the repository, and the testdata `events` table
    * that `cdc_pipeline_e2e` replays is uniform over its users with one
    * event in five a delete, which has no hot keys. The defaults give a
    * skewed key law (Zipf s = 1.1, so hot keys update many times in one
    * trigger and last-one-wins has real work to do) and make every case
    * the reference handles (deletes, re-deliveries, late lines, malformed
    * HLCs) occur hundreds of times or more in a 64k-mutation trigger.
    */
  final case class Shape(keys: Int, mutations: Int, zipfS: Double = 1.1,
      deleteShare: Double = 0.08, dupShare: Double = 0.03,
      lateShare: Double = 0.05, lateWindow: Int = 4000,
      malformedShare: Double = 0.01)

  /** One row image of the target table; tombstones are rows too. */
  final case class Row(id: Long, v: Long, kind: String, seq: Long,
      nanos: Long, logical: Int, isDelete: Boolean) {
    def hlcAbove(o: Row): Boolean =
      nanos > o.nanos || (nanos == o.nanos && logical > o.logical)
  }

  /** A delivered line: the row it carries and its `updated` text. */
  final case class Line(row: Row, updated: String, malformed: Boolean) {
    def json: String = {
      val after =
        if (row.isDelete) "null"
        else s"""{"id":${row.id},"v":${row.v},"kind":"${row.kind}","seq":${row.seq}}"""
      s"""{"after":$after,"key":[${row.id}],"updated":"$updated"}"""
    }
  }

  /** First HLC of a generated feed (2023-11-14, in epoch nanos). */
  val t0: Long = 1700000000000000000L
  val step: Long = 1000L

  val malformedHlcs: IndexedSeq[String] = IndexedSeq(
    "", "17000000000", "1700000000000000000.12", "x1700000000000000000.0000000001",
    "1700000000000000000.00000000011", "99999999999999999999.0000000000")

  def kindOf(id: Long): String = if (id % 3 == 0) "a" else "b"

  def hlcText(nanos: Long, logical: Int): String = f"$nanos.$logical%010d"

  /** Zipf(s) sampler over ranks 0 until n: inverse CDF by binary search. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def sample(rnd: SplittableRandom): Int = {
      val u = rnd.nextDouble()
      var lo = 0
      var hi = n - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) < u) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  /** Maps a Zipf rank to a key id, so hot keys are spread over the id
    * range (and over hash partitions) instead of being ids 0, 1, 2...
    */
  private def keyOfRank(rank: Int, keys: Int): Long =
    ((rank.toLong * 2654435761L) % keys + keys) % keys

  /** The target table as it stands before the feed: every even key, at
    * HLCs interleaved with the feed's first half (offset by half a step,
    * so no target HLC equals a feed HLC). Late feed lines for these keys
    * can therefore lose to the target row.
    */
  def standingTarget(shape: Shape, seed: Long): IndexedSeq[Row] = {
    val rnd = new SplittableRandom(seed * 31 + 7)
    (0L until shape.keys.toLong by 2L).map { id =>
      val slot = rnd.nextLong(shape.mutations / 2L + 1L)
      Row(id, rnd.nextLong(1000000L), kindOf(id), -1L - id,
        t0 + slot * step + step / 2, 0, isDelete = false)
    }
  }

  /** One generated mutation with the HLC of slot `nanos`. */
  private def mutation(shape: Shape, zipf: Zipf, rnd: SplittableRandom,
      seq: Long, nanos: Long): Line = {
    val id = keyOfRank(zipf.sample(rnd), shape.keys)
    val malformed = rnd.nextDouble() < shape.malformedShare
    val isDelete = !malformed && rnd.nextDouble() < shape.deleteShare
    val logical = rnd.nextInt(10)
    val row = Row(id, rnd.nextLong(1000000L), kindOf(id), seq, nanos, logical, isDelete)
    val updated =
      if (malformed) malformedHlcs(rnd.nextInt(malformedHlcs.length))
      else hlcText(nanos, logical)
    Line(row, updated, malformed)
  }

  /** The catch-up feed in delivery order. Mutation `i` carries HLC slot
    * `i`; a late mutation is delivered up to `lateWindow` positions after
    * its slot, and a duplicate is delivered a second time within the same
    * window.
    */
  def catchupLines(shape: Shape, seed: Long): IndexedSeq[Line] = {
    val rnd = new SplittableRandom(seed)
    val zipf = new Zipf(shape.keys, shape.zipfS)
    val delivered = mutable.ArrayBuffer.empty[(Long, Int, Line)]
    var tie = 0
    for (i <- 0 until shape.mutations) {
      val line = mutation(shape, zipf, rnd, i.toLong, t0 + (i + 1L) * step)
      val pos =
        if (rnd.nextDouble() < shape.lateShare) i + 1L + rnd.nextInt(shape.lateWindow)
        else i.toLong
      delivered += ((pos, tie, line)); tie += 1
      if (rnd.nextDouble() < shape.dupShare) {
        delivered += ((pos + 1L + rnd.nextInt(shape.lateWindow), tie, line)); tie += 1
      }
    }
    delivered.sortBy(d => (d._1, d._2)).map(_._3).toIndexedSeq
  }

  /** The reference apply: last-one-wins per key by HLC over the standing
    * target and every well-formed line; tombstones are kept while
    * applying (a late upsert must not resurrect a deleted key) and
    * dropped from the visible result. Malformed lines go to the DLQ.
    */
  final class Reference(target: Iterable[Row]) {
    private val state = mutable.LongMap.empty[Row]
    target.foreach(r => state(r.id) = r)
    val dlqSeqs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty[Long]

    def apply(line: Line): Unit =
      if (line.malformed) dlqSeqs += line.row.seq
      else state.get(line.row.id) match {
        case Some(cur) if !line.row.hlcAbove(cur) => ()
        case _ => state(line.row.id) = line.row
      }

    def visible: Map[Long, Row] = state.iterator.filter(!_._2.isDelete).toMap
  }

  /** Writes `lines` into `dir` as monotonic-named ndjson objects of
    * `perFile` lines, with a `*.RESOLVED` marker after every
    * `filesPerMarker` objects and after the last one. Returns
    * (data files, data bytes).
    */
  def writeBucket(dir: Path, lines: IndexedSeq[Line], perFile: Int,
      filesPerMarker: Int): (Int, Long) = {
    Files.createDirectories(dir)
    val groups = lines.grouped(perFile).toIndexedSeq
    var bytes = 0L
    groups.zipWithIndex.foreach { case (g, i) =>
      bytes += writeObject(dir, dataName(i), g.map(_.json).mkString("", "\n", "\n"))
      if ((i + 1) % filesPerMarker == 0 || i == groups.size - 1)
        writeObject(dir, markerName(i), resolvedBody(g))
    }
    (groups.size, bytes)
  }

  private def dataName(i: Int): String = f"f$i%08d.ndjson"

  /** Sorts after data object `i` and before object `i + 1`. */
  private def markerName(i: Int): String = f"f$i%08dz.RESOLVED"

  private def resolvedBody(lines: Seq[Line]): String = {
    val top = lines.filterNot(_.malformed).map(_.row.nanos).maxOption.getOrElse(t0)
    s"""{"resolved":"${hlcText(top, 0)}"}"""
  }

  private def writeObject(dir: Path, name: String, body: String): Long = {
    val bytes = body.getBytes(UTF_8)
    Files.write(dir.resolve(name), bytes)
    bytes.length.toLong
  }
}
