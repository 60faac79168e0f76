package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.scalatest.funsuite.AnyFunSuite

class XsmbDropSpec extends AnyFunSuite {

  private def tmp(name: String): File = {
    val d = new File(System.getProperty("java.io.tmpdir"), s"drop-spec-$name")
    FileUtils.deleteQuietly(d)
    d
  }

  private def files(d: File): Seq[File] = d.listFiles().toSeq.sortBy(_.getName)

  test("the same seed writes a byte-identical drop; another seed does not") {
    val (a, b, c) = (tmp("a"), tmp("b"), tmp("c"))
    XsmbDrop.write(a, 42, 40)
    XsmbDrop.write(b, 42, 40)
    XsmbDrop.write(c, 43, 40)
    assert(files(a).map(_.getName) === files(b).map(_.getName))
    files(a).zip(files(b)).foreach { case (x, y) =>
      assert(Files.readAllBytes(x.toPath).sameElements(Files.readAllBytes(y.toPath)), x.getName)
    }
    assert(files(a).zip(files(c)).exists { case (x, y) =>
      !Files.readAllBytes(x.toPath).sameElements(Files.readAllBytes(y.toPath))
    })
  }

  test("a day's file does not depend on which other days were written") {
    val (all, one) = (tmp("all"), tmp("one"))
    XsmbDrop.write(all, 7, 10)
    one.mkdirs()
    XsmbDrop.land(one, 7, 9)
    val name = XsmbDrop.fileName(XsmbDrop.day(9))
    assert(Files.readAllBytes(new File(all, name).toPath)
      .sameElements(Files.readAllBytes(new File(one, name).toPath)))
  }

  test("crawler wire format: BOM, header, 27 rows in the XSMB prize structure") {
    val d = tmp("format")
    XsmbDrop.write(d, 1, 400)
    assert(files(d).size === 400)
    assert(files(d).head.getName === "xsmb_01012015.csv")
    val zeroPadded = files(d).map { f =>
      val text = new String(Files.readAllBytes(f.toPath), UTF_8)
      assert(text.startsWith("\uFEFFprize,number_value,full_date,created_at\n"))
      val rows = text.stripPrefix("\uFEFF").split("\n").toSeq.drop(1).map(_.split(",", -1).toSeq)
      assert(rows.size === 27)
      assert(rows.forall(_.size == 4))
      val byPrize = rows.groupBy(_.head).map { case (p, rs) => p -> rs.map(_(1)) }
      XsmbDrop.prizes.foreach { case (prize, n, digits) =>
        assert(byPrize(prize).size === n, prize)
        assert(byPrize(prize).forall(v => v.length == digits && v.forall(_.isDigit)), prize)
      }
      val dd = f.getName.stripPrefix("xsmb_").take(8)
      assert(rows.forall(_(2) == s"${dd.take(2)}-${dd.slice(2, 4)}-${dd.drop(4)}"))
      byPrize(XsmbDrop.seventhPrize).exists(_.startsWith("0"))
    }
    assert(zeroPadded.contains(true), "some Giải Bảy number below 10 keeps its leading zero")
  }
}
