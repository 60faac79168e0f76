package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.time.LocalDate
import java.time.format.{DateTimeFormatter, ResolverStyle}
import java.time.temporal.ChronoUnit

import scala.jdk.CollectionConverters._

/** One expected row of `mart_two_digit_probability`. */
final case class MartRow(number: Int, occurrences: Long, draws: Int,
                         probability: java.math.BigDecimal, last: LocalDate,
                         recency: Long) {
  /** The row as the serving layer renders it (`Dataset.toJSON` order). */
  def json: String =
    s"""{"number_value":"$number","total_occurrences":$occurrences,""" +
      s""""total_draws":$draws,"probability":$probability,""" +
      s""""last_appeared_date":"$last","days_since_last":$recency}"""
}

/** The warehouse's expected contents, computed in plain Scala from the
  * drop's values and sharing no code with the engine.
  *
  * It follows the engine's documented rules: only Giải Bảy rows count;
  * a number is its last two digits; a fact is one (day, number) pair;
  * the mart's denominator is the number of draw days; probability is
  * DECIMAL(38,4) rounded half-up; statistic ties go to the lowest number.
  */
final class XsmbOracle {
  private val occurrences = new Array[Long](100)
  private val lastSeen = new Array[LocalDate](100)
  private val factsByDay = scala.collection.mutable.Map.empty[LocalDate, Int]

  /** Add one draw day's valid Giải Bảy numbers. */
  def addDay(d: LocalDate, numbers: Seq[Int]): this.type = {
    require(!factsByDay.contains(d), s"day $d added twice")
    if (numbers.nonEmpty) {
      factsByDay(d) = numbers.distinct.size
      numbers.foreach { n =>
        occurrences(n) += 1
        if (lastSeen(n) == null || lastSeen(n).isBefore(d)) lastSeen(n) = d
      }
    }
    this
  }

  def drawDays: Int = factsByDay.size
  def factRows: Long = factsByDay.values.map(_.toLong).sum
  def factRowsOf(d: LocalDate): Long = factsByDay.getOrElse(d, 0).toLong
  def lastDay: LocalDate = factsByDay.keys.max

  def mart: Seq[MartRow] = (0 until 100).filter(occurrences(_) > 0).map { n =>
    MartRow(n, occurrences(n), drawDays,
      java.math.BigDecimal.valueOf(occurrences(n))
        .divide(java.math.BigDecimal.valueOf(drawDays.toLong), 4, java.math.RoundingMode.HALF_UP),
      lastSeen(n), ChronoUnit.DAYS.between(lastSeen(n), lastDay))
  }

  /** Body of `GET /mart/statistic`. */
  def statisticJson: String = {
    val rows = mart
    val most = rows.minBy(r => (-r.occurrences, r.number)).number
    val least = rows.minBy(r => (r.occurrences, r.number)).number
    s"""[{"totalOccurrences":$drawDays,"mostNumber":"$most",""" +
      s""""leastNumber":"$least","lastUpdate":"${rows.map(_.last).max}"}]"""
  }

  /** Body of `GET /mart/number?number_value=<n>`. */
  def numberJson(n: Int): String =
    mart.find(_.number == n).map(r => s"[${r.json}]").getOrElse("[]")

  /** Rows of `GET /mart/all`, whose order the engine does not fix. */
  def allRows: Set[String] = mart.map(_.json).toSet
}

object XsmbOracle {

  /** The oracle for days [0, days) of a generated drop. */
  def generated(seed: Long, days: Int): XsmbOracle = {
    val o = new XsmbOracle
    (0 until days).foreach(i => o.addDay(XsmbDrop.day(i), XsmbDrop.seventh(seed, XsmbDrop.day(i))))
    o
  }

  private val rowDate =
    DateTimeFormatter.ofPattern("dd-MM-uuuu").withResolverStyle(ResolverStyle.STRICT)

  /** The oracle for arbitrary crawler files, applying the staging and
    * transform rules row by row: short rows drop, numbers need two
    * characters, dates must parse as dd-MM-yyyy. */
  def fromCsv(files: Seq[File]): XsmbOracle = {
    val valid = files.flatMap { f =>
      Files.readAllLines(f.toPath, UTF_8).asScala.drop(1).flatMap { line =>
        val cells = line.split(",", -1).map(c => Option(c).filter(_.nonEmpty))
        def cell(i: Int) = if (i < cells.length) cells(i) else None
        for {
          prize <- cell(0) if prize == XsmbDrop.seventhPrize
          raw <- cell(1).map(_.trim) if raw.length >= 2
          n <- raw.takeRight(2).toIntOption
          d <- cell(2).flatMap(s => scala.util.Try(LocalDate.parse(s.trim, rowDate)).toOption)
        } yield d -> n
      }
    }
    val o = new XsmbOracle
    valid.groupBy(_._1).toSeq.sortBy(_._1.toEpochDay).foreach { case (d, rs) => o.addDay(d, rs.map(_._2)) }
    o
  }
}
