package perfbench

import java.nio.file.Files
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable.ArrayBuffer

import graft.codec.EtsdDecoder

/** One `etsdCmd query` in the CLI grammar. `verb` is the spelling sent to
  * the engine; `kind` is what it means (tot/ave/min/max). Omitted start
  * and end take the CLI defaults, `begin` and `now`. */
final case class Query(kind: String, verb: String, chan: Option[String],
                       start: Option[Long], end: Option[Long]) {
  def args: Seq[String] = Seq(s"q=$verb") ++ chan.map(c => s"c=$c") ++
    start.map(s => s"s=${Query.iso(s)}") ++ end.map(e => s"e=${Query.iso(e)}")
}

object Query {
  private val Iso = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)
  def iso(epoch: Long): String = Iso.format(Instant.ofEpochSecond(epoch))

  /** Spellings of each verb the CLI accepts. */
  val Verbs: Seq[(String, Seq[String])] = Seq(
    "tot" -> Seq("tot", "total"), "ave" -> Seq("ave", "average"),
    "min" -> Seq("min", "minimum"), "max" -> Seq("max", "maximum"))

  def random(rng: scala.util.Random, chan: Option[String], start: Option[Long],
             end: Option[Long]): Query = {
    val (kind, spellings) = Verbs(rng.nextInt(Verbs.size))
    Query(kind, spellings(rng.nextInt(spellings.size)), chan, start, end)
  }
}

/** Channels and time range a query generator draws from. */
final case class Extent(names: IndexedSeq[String], firstTs: Long, lastTs: Long)

object Extent {
  /** The garage store as generated, before any decode. */
  def nominal: Extent = Extent(Garage.schema.channels.map(_.name).toIndexedSeq,
    Garage.BaseEpoch, Garage.BaseEpoch + Garage.Days * 86400L)
}

/** Per-channel answer rows: channel → (n, result). */
object Answer {
  type T = Map[String, (Long, Double)]

  def matches(got: T, want: T): Boolean =
    got.keySet == want.keySet && got.forall { case (c, (n, r)) =>
      val (wn, wr) = want(c)
      n == wn && (r == wr || math.abs(r - wr) <= 1e-9 * math.max(math.abs(r), math.abs(wr)))
    }

  /** The CLI's stdout: one `channel\tn\tresult` line per channel. */
  def parseCli(stdout: String): T =
    stdout.linesIterator.map(_.split('\t')).collect {
      case Array(c, n, r) => c -> (n.toLong, r.toDouble)
    }.toMap
}

/** The reference answer for every query over one store: a whole-file
  * `EtsdDecoder.decodeFile` of every `.tsd` file, filtered the way the
  * query asks. Valid non-register samples per channel, sorted by time. */
final class StoreOracle(val names: IndexedSeq[String], ts: Array[Array[Long]],
                        vals: Array[Array[Long]], val beginTs: Long) {

  /** Valid stored readings. */
  def readings: Long = ts.map(_.length.toLong).sum
  def extent: Extent = Extent(names,
    ts.filter(_.nonEmpty).map(_.head).min, ts.filter(_.nonEmpty).map(_.last).max)

  /** Channel the CLI resolves `c` to: case-insensitive substring, first wins. */
  def channelIndex(c: String): Int = {
    val i = names.indexWhere(_.toLowerCase.contains(c.toLowerCase))
    require(i >= 0, s"no channel matches '$c'")
    i
  }

  private def lowerBound(a: Array[Long], x: Long): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (a(m) < x) lo = m + 1 else hi = m }
    lo
  }

  /** Readings with `lo <= ts <= hi` in the query's channels. */
  def windowReadings(q: Query, now: Long): Long = {
    val (lo, hi) = bounds(q, now)
    chans(q).map(c => (lowerBound(ts(c), hi + 1) - lowerBound(ts(c), lo)).toLong).sum
  }

  private def bounds(q: Query, now: Long): (Long, Long) =
    (q.start.getOrElse(beginTs), q.end.getOrElse(now))

  private def chans(q: Query): Seq[Int] =
    q.chan.map(c => Seq(channelIndex(c))).getOrElse(names.indices)

  def answer(q: Query, now: Long): Answer.T = {
    val (lo, hi) = bounds(q, now)
    chans(q).flatMap { c =>
      val i0 = lowerBound(ts(c), lo)
      val i1 = lowerBound(ts(c), hi + 1)
      val n = i1 - i0
      if (n <= 0) None
      else {
        val v = vals(c)
        var sum = 0L; var mn = Long.MaxValue; var mx = Long.MinValue
        var i = i0
        while (i < i1) { val x = v(i); sum += x; if (x < mn) mn = x; if (x > mx) mx = x; i += 1 }
        val r = q.kind match {
          case "min" => mn.toDouble
          case "max" => mx.toDouble
          case "ave" => sum.toDouble / n
          case _ => sum.toDouble
        }
        Some(names(c) -> (n.toLong, r))
      }
    }.toMap
  }
}

object StoreOracle {
  def decode(dir: String): StoreOracle = {
    val files = Garage.tsdFiles(dir)
    require(files.nonEmpty, s"no .tsd files in $dir")
    var names: IndexedSeq[String] = null
    var tsB: Array[ArrayBuffer[Long]] = null
    var vB: Array[ArrayBuffer[Long]] = null
    var begin = Long.MaxValue
    files.foreach { f =>
      val (schema, samples) = EtsdDecoder.decodeFile(Files.readAllBytes(f.toPath))
      if (names == null) {
        names = schema.channels.map(_.name).toIndexedSeq
        tsB = Array.fill(names.size)(ArrayBuffer.empty[Long])
        vB = Array.fill(names.size)(ArrayBuffer.empty[Long])
      }
      samples.foreach { s =>
        if (s.tsEpoch < begin) begin = s.tsEpoch
        if (!s.isRegister) s.value.foreach { v => tsB(s.chan) += s.tsEpoch; vB(s.chan) += v }
      }
    }
    // samples arrive block by block; a block stamped out of order (a
    // clock step) must still land at its own time
    val (ts, vs) = tsB.indices.map { c =>
      val t = tsB(c).toArray
      val v = vB(c).toArray
      if (t.indices.drop(1).forall(i => t(i - 1) <= t(i))) (t, v)
      else {
        val ord = t.indices.sortBy(t(_))
        (ord.map(t).toArray, ord.map(v).toArray)
      }
    }.unzip
    new StoreOracle(names, ts.toArray, vs.toArray, begin)
  }
}
