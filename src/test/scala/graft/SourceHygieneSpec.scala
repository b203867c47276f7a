package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source files stay plain text: no control byte other than tab, LF or
  * CR. A raw control character (a U+0001 ledger separator, say) is
  * invisible in editors and diffs and makes git treat the file as
  * binary; write it as an escape (`"\u0001"`) instead — the compiled
  * bytes are the same. */
class SourceHygieneSpec extends AnyFunSuite {
  test("no file under src/ contains a control byte other than tab, LF or CR") {
    val files = Files.walk(Paths.get("src")).iterator().asScala
      .filter(p => Files.isRegularFile(p)).toSeq
    assert(files.nonEmpty, "no sources found — run from the repository root")
    def bad(b: Byte): Boolean =
      (b >= 0 && b < 0x20 && b != '\t' && b != '\n' && b != '\r') || b == 0x7f
    val offenders = files.flatMap { (p: Path) =>
      val bytes = Files.readAllBytes(p)
      val i = bytes.indexWhere(bad)
      if (i < 0) None
      else {
        val line = bytes.take(i).count(_ == '\n') + 1
        Some(f"$p:$line (byte 0x${bytes(i) & 0xff}%02x)")
      }
    }
    assert(offenders.isEmpty,
      s"control bytes in sources (write them as escapes): ${offenders.mkString(", ")}")
  }
}
