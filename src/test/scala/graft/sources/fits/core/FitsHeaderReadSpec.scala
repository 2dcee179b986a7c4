package graft.sources.fits.core

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.fits.CountingFileSystem

/** The header walk reads each header block once, finds END in whichever
  * block holds it, and bounds the I/O of a header that never ends.
  */
class FitsHeaderReadSpec extends AnyFunSuite {
  import FitsHeader.{BlockSize, CardSize}

  private def pad(s: String, n: Int): String =
    if (s.length >= n) s.take(n) else s + " " * (n - s.length)
  private def card(k: String, v: String): String =
    pad(pad(k, 8) + "= " + pad(v, 20), CardSize)
  private val end = pad("END", CardSize)

  /** A header of exactly `blocks` blocks whose last card is END. */
  private def headerEndingIn(blocks: Int): String = {
    val fixed = Seq(card("SIMPLE", "T"), card("BITPIX", "8"),
      card("NAXIS", "0"), card("ENDTIME", "'not the end'"))
    val fill = blocks * (BlockSize / CardSize) - fixed.length - 1
    (fixed ++ (1 to fill).map(i => card(f"K$i%07d", i.toString)) :+ end)
      .mkString
  }

  private def file(content: String): (CountingFileSystem, Path) = {
    val p = Files.createTempFile("graft-hdr", ".fits")
    Files.write(p, content.getBytes("US-ASCII"))
    p.toFile.deleteOnExit()
    val fs = new CountingFileSystem
    fs.initialize(URI.create("file:///"), new Configuration())
    CountingFileSystem.reset()
    (fs, new Path(p.toUri))
  }

  private def bytesRead(p: Path): Long =
    CountingFileSystem.under(p.toUri.getPath)
      .filter(_.kind == CountingFileSystem.Read).map(_.bytes).sum

  Seq(1, 6).foreach { blocks =>
    test(s"END as the last card of block $blocks") {
      val (fs, p) = file(headerEndingIn(blocks))
      val hdus = FitsStructure.scan(fs, p)
      assert(hdus.length == 1)
      val h = hdus.head
      assert(h.bounds.dataStart == blocks.toLong * BlockSize)
      assert(h.header("ENDTIME") == "not the end")
      val last = blocks * (BlockSize / CardSize) - 5
      assert(h.header(f"K$last%07d") == last.toString)
      assert(bytesRead(p) == blocks.toLong * BlockSize)
    }
  }

  test("a header that runs past EOF fails with the same message") {
    // END would be in block 6; the file stops after block 5
    val (fs, p) = file(headerEndingIn(6).take(5 * BlockSize))
    val e = intercept[IllegalArgumentException](FitsStructure.scan(fs, p))
    assert(e.getMessage == s"$p: header at byte 0 runs past EOF without " +
      "an END card — not a valid FITS file")
    assert(bytesRead(p) == 5L * BlockSize)
  }

  test("no END within 1000 blocks fails after reading at most 1000 blocks") {
    val noEnd = headerEndingIn(1001).dropRight(CardSize) +
      card("KLAST", "1")
    val (fs, p) = file(noEnd)
    val e = intercept[IllegalArgumentException](FitsStructure.scan(fs, p))
    assert(e.getMessage ==
      s"$p: no END card within 1000 header blocks at byte 0")
    assert(bytesRead(p) <= 1000L * BlockSize)
  }
}
