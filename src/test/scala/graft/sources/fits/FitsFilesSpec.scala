package graft.sources.fits

import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite

/** Pins what [[FitsFiles.resolve]] returns for each path form: a
  * directory (recursive, `*.fits` in any letter case, sorted), a single
  * file, a glob, a comma list, and the error when nothing matches.
  */
class FitsFilesSpec extends AnyFunSuite {

  private val conf = new Configuration()

  /** root/{a.fits, B.FITS, MANIFEST, notes.txt, sub/c.fits, sub/e.fit,
    * sub/deeper/d.Fits, other/f.fits, empty/} */
  private def tree(): String = {
    val root = Files.createTempDirectory("graft-files").toString
    Seq("a.fits", "B.FITS", "MANIFEST", "notes.txt", "sub/c.fits",
      "sub/e.fit", "sub/deeper/d.Fits", "other/f.fits").foreach { rel =>
      val p = Paths.get(root, rel)
      Files.createDirectories(p.getParent)
      Files.write(p, Array.fill[Byte](2880)(' '))
    }
    Files.createDirectories(Paths.get(root, "empty"))
    root
  }

  private def resolve(spec: String): Seq[String] =
    FitsFiles.resolve(spec, conf).map(_.toString)

  test("a directory lists *.fits at any depth, any case, sorted by path") {
    val root = tree()
    assert(resolve(root) == Seq("B.FITS", "a.fits", "other/f.fits",
      "sub/c.fits", "sub/deeper/d.Fits").map(r => s"file:$root/$r"))
    assert(resolve(s"$root/sub") ==
      Seq("sub/c.fits", "sub/deeper/d.Fits").map(r => s"file:$root/$r"))
  }

  test("a single file is returned as given, whatever its suffix") {
    val root = tree()
    assert(resolve(s"$root/a.fits") == Seq(s"$root/a.fits"))
    assert(resolve(s"$root/MANIFEST") == Seq(s"$root/MANIFEST"))
  }

  test("a glob keeps matched files as they are and lists matched dirs") {
    val root = tree()
    assert(resolve(s"$root/*.fits") == Seq(s"file:$root/a.fits"))
    assert(resolve(s"$root/[aB]*") ==
      Seq(s"file:$root/B.FITS", s"file:$root/a.fits"))
    assert(resolve(s"$root/MAN*") == Seq(s"file:$root/MANIFEST"))
    assert(resolve(s"$root/[os]*") == Seq("other/f.fits", "sub/c.fits",
      "sub/deeper/d.Fits").map(r => s"file:$root/$r"))
  }

  test("a comma list concatenates its parts in the order given") {
    val root = tree()
    assert(resolve(s"$root/sub , $root/a.fits,,$root/other") == Seq(
      s"file:$root/sub/c.fits", s"file:$root/sub/deeper/d.Fits",
      s"$root/a.fits", s"file:$root/other/f.fits"))
  }

  test("nothing to read is an error naming the path") {
    val root = tree()
    Seq(s"$root/empty", s"$root/missing", s"$root/missing/*.fits",
      s"$root/*.fts", s"$root/empty,$root/missing").foreach { spec =>
      val e = intercept[IllegalArgumentException](resolve(spec))
      assert(e.getMessage == s"No FITS files found for path '$spec'")
    }
  }
}
