package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.time.LocalDate
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

/** Deterministic XSMB crawl-drop generator.
  *
  * One `xsmb_ddMMyyyy.csv` per draw day in the crawler's wire format: a
  * UTF-8 BOM, the `prize,number_value,full_date,created_at` header and 27
  * all-string rows in the northern-lottery prize structure. Numbers keep
  * their leading zeros. Every day's rows come from a generator seeded by
  * (seed, day), so a day's file does not depend on which other days were
  * generated, and the same seed always gives byte-identical files.
  */
object XsmbDrop {

  /** (prize name, numbers drawn, digits per number): 27 numbers a day. */
  val prizes: Seq[(String, Int, Int)] = Seq(
    ("Giải Đặc Biệt", 1, 5), ("Giải Nhất", 1, 5), ("Giải Nhì", 2, 5),
    ("Giải Ba", 6, 5), ("Giải Tư", 4, 4), ("Giải Năm", 6, 4),
    ("Giải Sáu", 3, 3), ("Giải Bảy", 4, 2))

  val seventhPrize = "Giải Bảy"
  val header = "prize,number_value,full_date,created_at"
  val firstDay: LocalDate = LocalDate.of(2015, 1, 1)

  private val fileDate = DateTimeFormatter.ofPattern("ddMMyyyy")
  private val rowDate = DateTimeFormatter.ofPattern("dd-MM-yyyy")

  def day(i: Int): LocalDate = firstDay.plusDays(i.toLong)
  def fileName(d: LocalDate): String = s"xsmb_${d.format(fileDate)}.csv"

  private def rng(seed: Long, d: LocalDate): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ d.toEpochDay)

  private def pad(v: Int, digits: Int): String = {
    val s = v.toString
    "0" * (digits - s.length) + s
  }

  /** The day's (prize, number_value) rows in file order. */
  def draws(seed: Long, d: LocalDate): Seq[(String, String)] = {
    val r = rng(seed, d)
    prizes.flatMap { case (prize, n, digits) =>
      val bound = math.pow(10, digits).toInt
      Seq.fill(n)(prize -> pad(r.nextInt(bound), digits))
    }
  }

  /** The day's Giải Bảy numbers as the warehouse sees them (0-99). */
  def seventh(seed: Long, d: LocalDate): Seq[Int] =
    draws(seed, d).collect { case (p, v) if p == seventhPrize => v.toInt }

  def csv(seed: Long, d: LocalDate): Array[Byte] = {
    val r = rng(seed, d).split() // crawl time of day, independent of the draws
    val createdAt = s"${d}T18:${pad(r.nextInt(60), 2)}:${pad(r.nextInt(60), 2)}." +
      s"${pad(r.nextInt(1000), 3)}Z"
    val sb = new StringBuilder("\uFEFF").append(header).append('\n')
    draws(seed, d).foreach { case (p, v) =>
      sb.append(p).append(',').append(v).append(',').append(d.format(rowDate))
        .append(',').append(createdAt).append('\n')
    }
    sb.toString.getBytes(UTF_8)
  }

  /** Land day `i`'s file in `dir`; returns the bytes written. */
  def land(dir: File, seed: Long, i: Int): Long = {
    val bytes = csv(seed, day(i))
    Files.write(new File(dir, fileName(day(i))).toPath, bytes)
    bytes.length.toLong
  }

  /** Write days [0, days) into a fresh `dir`; returns the bytes written. */
  def write(dir: File, seed: Long, days: Int): Long = {
    dir.mkdirs()
    (0 until days).iterator.map(land(dir, seed, _)).sum
  }

  val rowsPerDay: Int = prizes.map(_._2).sum
}
