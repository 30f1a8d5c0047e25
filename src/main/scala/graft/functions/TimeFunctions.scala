package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Date/time functions the reference has but Spark lacks (SURVEY.md §2.8).
  *
  * All are built from codegen'd native expressions (epoch-micros arithmetic)
  * — no UDFs in the hot path, so whole-stage codegen stays intact at 100 TB.
  */
object TimeFunctions {

  /** `date_bin(interval, ts, origin)` — floor `ts` into fixed-width bins
    * aligned to `origin` (reference:
    * `server/src/main/java/io/crate/expression/scalar/DateBinFunction.java:41`).
    *
    * Negative-remainder handling matches SQL-standard date_bin: bins are
    * aligned for timestamps before the origin too (floor, not trunc-to-zero).
    */
  def dateBin(widthMicros: Long, ts: Column, originMicros: Long = 0L): Column = {
    val t = unix_micros(ts)
    val off = t - lit(originMicros)
    // floordiv for negatives: (a - ((a % w + w) % w)) is floor-aligned
    val rem = ((off % widthMicros) + widthMicros) % widthMicros
    timestamp_micros(t - rem)
  }

  /** MySQL-style `date_format` pattern → java.time pattern (reference
    * `expression/scalar/timestamp/DateFormatFunction.java:40` uses
    * MySQL `%`-patterns). Covers the commonly used subset. */
  private val mysqlToJava: Seq[(String, String)] = Seq(
    "%Y" -> "yyyy", "%y" -> "yy", "%m" -> "MM", "%c" -> "M",
    "%d" -> "dd", "%e" -> "d", "%H" -> "HH", "%k" -> "H",
    "%h" -> "hh", "%i" -> "mm", "%s" -> "ss", "%S" -> "ss",
    "%f" -> "SSSSSS", "%p" -> "a", "%W" -> "EEEE", "%a" -> "EEE",
    "%M" -> "MMMM", "%b" -> "MMM", "%j" -> "DDD", "%%" -> "%"
  )

  def translateMySqlPattern(p: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < p.length) {
      val c = p.charAt(i)
      if (c == '%' && i + 1 < p.length) {
        val tok = p.substring(i, i + 2)
        mysqlToJava.find(_._1 == tok) match {
          case Some((_, j)) => sb.append(j)
          case None         => sb.append(tok.charAt(1))
        }
        i += 2
      } else if (c.isLetter) {
        // quote literal runs WHOLE — per-char quoting ('t''h''e')
        // collapses the inner quotes to literal apostrophes
        val start = i
        while (i < p.length && p.charAt(i).isLetter) i += 1
        sb.append('\'').append(p.substring(start, i)).append('\'')
      }
      else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** MySQL-pattern date_format — pattern translated at plan time, execution
    * stays on Spark's native codegen'd `date_format`. */
  def dateFormatMySql(ts: Column, mysqlPattern: String): Column =
    date_format(ts, translateMySqlPattern(mysqlPattern))

  /** PG `to_char` template → java.time pattern (reference
    * `expression/scalar/formatting/ToCharFunction.java:48`). Common subset. */
  private val pgToJava: Seq[(String, String)] = Seq(
    "YYYY" -> "yyyy", "YY" -> "yy", "MONTH" -> "MMMM", "Month" -> "MMMM",
    "MON" -> "MMM", "Mon" -> "MMM", "MM" -> "MM", "DDD" -> "DDD",
    "DD" -> "dd", "DY" -> "EEE", "Dy" -> "EEE", "DAY" -> "EEEE",
    "Day" -> "EEEE", "HH24" -> "HH", "HH12" -> "hh", "HH" -> "hh",
    "MI" -> "mm", "SS" -> "ss", "MS" -> "SSS", "US" -> "SSSSSS",
    "AM" -> "a", "PM" -> "a", "TZ" -> "zz"
  )

  def translatePgTemplate(t: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < t.length) {
      pgToJava.find { case (pg, _) => t.regionMatches(i, pg, 0, pg.length) } match {
        case Some((pg, j)) => sb.append(j); i += pg.length
        case None =>
          val c = t.charAt(i)
          if (c.isLetter) sb.append('\'').append(c).append('\'') else sb.append(c)
          i += 1
      }
    }
    sb.toString
  }

  def toChar(ts: Column, pgTemplate: String): Column =
    date_format(ts, translatePgTemplate(pgTemplate))

  /** PG `age(a, b)` — symbolic interval between timestamps (reference
    * `expression/scalar/timestamp/AgeFunction.java:45`). */
  def age(a: Column, b: Column): Column =
    make_ym_interval(
      months_between(a, b).cast("int") / 12,
      months_between(a, b).cast("int") % 12)
}
