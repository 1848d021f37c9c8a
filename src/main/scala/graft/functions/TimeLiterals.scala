package graft.functions

import java.time.format.DateTimeFormatter
import java.time.temporal.ChronoUnit
import java.time.{Instant, LocalDate, LocalDateTime, LocalTime, ZoneOffset}

/** CLI-compatible time-literal grammar of the reference
  * (`parseT` etsdQuery.c:41-93, `etsdParseTime` etsdQuery.c:97-182),
  * reimplemented on java.time. All arithmetic is UTC.
  *
  * Durations: `10s`, `-356S`, `4hours`, `-12h`, `3minutes`, `5d`, `2Y` —
  * optional sign, float magnitude, case-insensitive unit word (first letter
  * decides: s/m/h/d/w/y).
  *
  * Points in time: `now`, `mid`/`midnight`, `begin` (first stored block),
  * ISO `yyyy-mm-dd[ hh:mm[:ss]]`, US `mm/dd/yy[yy][ hh:mm[:ss]]`, bare
  * `hh:mm[:ss]` (today, or yesterday if that would be in the future), each
  * optionally followed by `+`/`-` and a duration (`now-4h`, `midnight+90m`).
  */
object TimeLiterals {

  private val DurRe = """^([+-]?)(\d+(?:\.\d+)?)\s*([a-zA-Z]+)$""".r

  /** Duration literal → seconds (reference `parseT`, etsdQuery.c:41-93). */
  def parseDurationSec(s: String): Long = {
    val t = s.trim
    t match {
      case DurRe(sign, num, unit) =>
        val mult = unit.toLowerCase.charAt(0) match {
          case 's' => 1L
          case 'm' => 60L
          case 'h' => 3600L
          case 'd' => 86400L
          case 'w' => 604800L
          case 'y' => 31536000L // 365 d, matches the reference's fixed year
          case c   => throw new IllegalArgumentException(s"bad duration unit '$c' in '$s'")
        }
        val v = (num.toDouble * mult).toLong
        if (sign == "-") -v else v
      case _ if t.matches("[+-]?\\d+") =>
        t.toLong // bare seconds
      case _ => throw new IllegalArgumentException(s"bad duration literal '$s'")
    }
  }

  private val IsoDateTime  = DateTimeFormatter.ofPattern("yyyy-M-d H:m:s")
  private val IsoDateHm    = DateTimeFormatter.ofPattern("yyyy-M-d H:m")
  private val IsoDate      = DateTimeFormatter.ofPattern("yyyy-M-d")
  private val UsDateTime   = DateTimeFormatter.ofPattern("M/d/yyyy H:m:s")
  private val UsDateHm     = DateTimeFormatter.ofPattern("M/d/yyyy H:m")
  private val UsDate       = DateTimeFormatter.ofPattern("M/d/yyyy")

  /** Time-point literal → epoch seconds (reference `etsdParseTime`,
    * etsdQuery.c:97-182).
    *
    * @param now   "current" time (injected for determinism)
    * @param begin the `begin` keyword's time: the stamp of the store's
    *              first block, as the reference seeks block 1
    *              (etsdQuery.c:259-261); `EtsdQueryApi` reads it from the
    *              store's index entries
    */
  def parseTimeEpoch(lit: String, now: Instant, begin: Instant): Long = {
    val t0 = lit.trim
    // split off a trailing +/- duration (scan from the right so that
    // date separators like 2024-01-05 don't trigger)
    val (base, offset) = splitOffset(t0)
    val b = base.trim.toLowerCase
    val nowDt = LocalDateTime.ofInstant(now, ZoneOffset.UTC)
    val baseEpoch: Long =
      if (b.isEmpty || b == "now") now.getEpochSecond
      else if (b.startsWith("mid")) // midnight (most recent)
        nowDt.toLocalDate.atStartOfDay.toEpochSecond(ZoneOffset.UTC)
      else if (b == "begin") begin.getEpochSecond
      else parseAbsolute(base.trim, nowDt)
    baseEpoch + offset
  }

  private def splitOffset(s: String): (String, Long) = {
    // a trailing "<sign><digits[.digits]><unit-word>" or "<sign><digits>" is
    // an offset iff the remainder of the string still parses as a base
    // literal on its own — this is what keeps "2024-01-05" whole (prefix
    // "2024-01" is not a base) while "10:00+30" and "now-4h" split.
    val idx = math.max(s.lastIndexOf('+'), s.lastIndexOf('-'))
    if (idx <= 0) (s, 0L)
    else {
      val prefix = s.substring(0, idx).trim
      val suffix = s.substring(idx) // includes sign
      val dur = try Some(parseDurationSec(suffix)) catch { case _: Exception => None }
      dur match {
        case Some(off) if baseParses(prefix) => (prefix, off)
        case _ => (s, 0L)
      }
    }
  }

  private def baseParses(p: String): Boolean = {
    val b = p.toLowerCase
    b.isEmpty || b == "now" || b.startsWith("mid") || b == "begin" ||
      (try { parseAbsolute(p, LocalDateTime.of(2000, 1, 1, 0, 0)); true }
       catch { case _: Exception => false })
  }

  private def parseAbsolute(s: String, nowDt: LocalDateTime): Long = {
    def ep(dt: LocalDateTime): Long = dt.toEpochSecond(ZoneOffset.UTC)
    val norm = s.replaceAll("\\s+", " ")
    // bare hh:mm[:ss] → today, or yesterday if in the future (etsdQuery.c:149-158)
    if (norm.matches("""\d{1,2}:\d{2}(:\d{2})?""")) {
      val lt =
        try LocalTime.parse(if (norm.count(_ == ':') == 1) norm + ":00" else norm,
          DateTimeFormatter.ofPattern("H:m:s"))
        catch { case e: Exception =>
          throw new IllegalArgumentException(s"bad time literal '$s'", e)
        }
      val cand = nowDt.toLocalDate.atTime(lt)
      val res = if (cand.isAfter(nowDt)) cand.minus(1, ChronoUnit.DAYS) else cand
      return ep(res)
    }
    // mm/dd/yy → mm/dd/20yy (etsdQuery.c two-digit year)
    val us = norm.replaceAll("""^(\d{1,2}/\d{1,2}/)(\d{2})(\D|$)""", "$120$2$3")
    val attempts: Seq[(String, DateTimeFormatter, Boolean)] = Seq(
      (norm, IsoDateTime, false), (norm, IsoDateHm, false), (norm, IsoDate, true),
      (us, UsDateTime, false), (us, UsDateHm, false), (us, UsDate, true))
    attempts.foreach { case (text, fmt, dateOnly) =>
      try {
        return ep(
          if (dateOnly) LocalDate.parse(text, fmt).atStartOfDay
          else LocalDateTime.parse(text, fmt))
      } catch { case _: Exception => }
    }
    throw new IllegalArgumentException(s"bad time literal '$s'")
  }
}
