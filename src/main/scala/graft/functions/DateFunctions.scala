package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Date/time functions (SURVEY.md §2.8 D1–D6; D7's duration is inline in
  * [[graft.queries.Aggregates]]). Pure Column expressions; session
  * timezone pinned UTC (build.sbt) for cross-engine parity. */
object DateFunctions {

  /** D1 — multi-format tolerant timestamp parse: ISO, date-only, UK slash
    * format. try_to_timestamp keeps ANSI mode (Spark 4 default) from
    * throwing on the non-matching patterns.
    * Reference: database.py:202-210,908-927. */
  def parseTimestampMulti(c: Column): Column =
    coalesce(
      try_to_timestamp(c, lit("yyyy-MM-dd'T'HH:mm:ss")),
      try_to_timestamp(c, lit("yyyy-MM-dd HH:mm:ss")),
      try_to_timestamp(c, lit("yyyy-MM-dd")),
      try_to_timestamp(c, lit("dd/MM/yyyy")))

  /** D2 — UK date parse/format. Reference: app.py:237-238. */
  def parseUkDate(c: Column): Column =
    try_to_timestamp(c, lit("dd/MM/yyyy")).cast("date")
  def formatUkDate(c: Column): Column = date_format(c, "dd/MM/yyyy")

  /** D3 — friendly "Monday 23rd June 2023" with ordinal suffix.
    * Reference: app.py:230-247. */
  def friendlyDate(c: Column): Column = {
    val d = dayofmonth(c)
    val suffix = when(d.isin(11, 12, 13), "th")
      .when(d % 10 === 1, "st")
      .when(d % 10 === 2, "nd")
      .when(d % 10 === 3, "rd")
      .otherwise("th")
    concat(date_format(c, "EEEE"), lit(" "), d.cast("string"), suffix,
      lit(" "), date_format(c, "MMMM"), lit(" "), year(c).cast("string"))
  }

  /** D4 — Monday-aligned week start. Reference: weekly_scheduler.py:459-463. */
  def weekStart(c: Column): Column = date_trunc("week", c)

  /** D6 — relative window lower bound (now − n days).
    * Reference: database.py:1264-1265 (intent; its un-imported `timedelta`
    * NameError is not replicated — SURVEY §7.4.5). */
  def sinceDaysAgo(days: Int): Column =
    current_timestamp() - expr(s"INTERVAL $days DAYS")
}
