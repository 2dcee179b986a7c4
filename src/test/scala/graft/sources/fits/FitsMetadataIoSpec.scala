package graft.sources.fits

import java.io.{DataOutputStream, FileOutputStream}
import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.SparkTestBase

/** Driver-side metadata I/O of a FITS read, counted through
  * [[CountingFileSystem]]: one load() lists its directory once and
  * reads each file's headers once, in one forward pass, whatever
  * actions follow; a new load() lists and reads again.
  */
class FitsMetadataIoSpec extends SparkTestBase {
  import CountingFileSystem._

  private val nFiles = 5
  private val rowsPer = 100

  private def pad(s: String, n: Int): String =
    if (s.length >= n) s.take(n) else s + " " * (n - s.length)
  private def card(k: String, v: String): String =
    pad(pad(k, 8) + "= " + pad(v, 20), 80)

  /** Writes `cards` + END padded to whole blocks; returns header bytes. */
  private def header(out: DataOutputStream, cards: Seq[String]): Long = {
    val s = (cards :+ pad("END", 80)).mkString
    val bytes = (s + " " * ((2880 - s.length % 2880) % 2880))
      .getBytes("US-ASCII")
    out.write(bytes)
    bytes.length.toLong
  }

  /** Primary HDU plus two one-column K bintables (`OBJECTS`, `SOURCES`)
    * whose headers span several blocks; returns the file's header bytes. */
  private def writeFile(path: String, base: Long): Long = {
    val out = new DataOutputStream(new FileOutputStream(path))
    try {
      var hdrBytes = header(out,
        Seq(card("SIMPLE", "T"), card("BITPIX", "8"), card("NAXIS", "0")))
      Seq("OBJECTS" -> 40, "SOURCES" -> 120).foreach { case (name, extra) =>
        hdrBytes += header(out, Seq(
          card("XTENSION", "'BINTABLE'"), card("BITPIX", "8"),
          card("NAXIS", "2"), card("NAXIS1", "8"),
          card("NAXIS2", rowsPer.toString), card("PCOUNT", "0"),
          card("GCOUNT", "1"), card("TFIELDS", "1"),
          card("TTYPE1", "'v       '"), card("TFORM1", "'K       '"),
          card("EXTNAME", s"'$name'")) ++
          (1 to extra).map(i => card(f"PAD$i%05d", i.toString)))
        (0 until rowsPer).foreach(i => out.writeLong(base + i))
        out.write(new Array[Byte](2880 - rowsPer * 8 % 2880))
      }
      hdrBytes
    } finally out.close()
  }

  /** A directory of `nFiles` files; returns (dir, header bytes present). */
  private def corpus(): (String, Long) = {
    val dir = Files.createTempDirectory("graft-metaio").toString
    val hdr = (0 until nFiles).map(f =>
      writeFile(f"$dir/part$f%02d.fits", f.toLong * rowsPer)).sum
    (dir, hdr)
  }

  private def withCounting[T](body: SparkSession => T): T = {
    val s = CountingFileSystem.session(spark)
    SparkSession.setActiveSession(s)
    reset()
    try body(s) finally SparkSession.setActiveSession(spark)
  }

  private def driver(dir: String): Seq[Event] =
    under(dir).filter(_.onDriver)
  private def listings(dir: String): Int =
    driver(dir).count(_.kind == Listing)
  private def opensPerFile(dir: String): Map[String, Int] =
    driver(dir).filter(_.kind == Open).groupBy(_.path)
      .map { case (p, es) => new Path(p).getName -> es.size }
  private def bytesRead(dir: String): Long =
    driver(dir).filter(_.kind == Read).map(_.bytes).sum

  private def eachFile(n: Int): Map[String, Int] =
    (0 until nFiles).map(f => f"part$f%02d.fits" -> n).toMap

  private val actions: Seq[(String, org.apache.spark.sql.DataFrame => Any)] =
    Seq(
      "count()" -> (_.count()),
      "a filtered collect()" -> (_.filter(col("v") === 3L).collect()),
      "limit" -> (_.limit(7).collect()))

  actions.foreach { case (what, act) =>
    test(s"one load() plus $what lists once and reads each header once") {
      val (dir, hdrBytes) = corpus()
      withCounting { s =>
        val df = s.read.format("fits").option("hdu", "SOURCES").load(dir)
        act(df)
        assert(listings(dir) == 1)
        assert(opensPerFile(dir) == eachFile(1))
        assert(bytesRead(dir) == hdrBytes)
      }
    }
  }

  test("a loaded DataFrame keeps its walks; a second load() walks again") {
    val (dir, hdrBytes) = corpus()
    withCounting { s =>
      val df = s.read.format("fits").option("hdu", "SOURCES").load(dir)
      assert(df.count() == nFiles.toLong * rowsPer)
      assert(df.filter(col("v") === 3L).collect().map(_.getLong(0)).toSeq ==
        Seq(3L))
      assert(df.limit(7).collect().length == 7)
      assert(listings(dir) == 1)
      assert(opensPerFile(dir) == eachFile(1))

      // no cross-load cache: a new load() sees the directory as it is now
      val again = s.read.format("fits").option("hdu", "SOURCES").load(dir)
      assert(again.count() == nFiles.toLong * rowsPer)
      assert(listings(dir) == 2)
      assert(opensPerFile(dir) == eachFile(2))
      assert(bytesRead(dir) == 2 * hdrBytes)
    }
  }

  test("stream batches walk their new files per plan and keep nothing") {
    val (dir, _) = corpus()
    withCounting { s =>
      val res = FitsResolution(Map("path" -> dir, "hdu" -> "SOURCES"))
      val scan = new FitsScan(res, res.tableSchema, res.tableSchema)
      assert(scan.planInputPartitions().nonEmpty)
      val later = f"$dir/part$nFiles%02d.fits"
      writeFile(later, nFiles.toLong * rowsPer)
      val fresh = Seq(new Path(later))
      assert(scan.planFor(res.scanFiles(fresh)).nonEmpty)
      assert(scan.planFor(res.scanFiles(fresh)).nonEmpty)
      // the batch files stay walked once; the stream's file is walked by
      // each plan and held by neither the resolution nor the scan
      assert(opensPerFile(dir) == eachFile(1) + (new Path(later).getName -> 2))
      assert(res.fileHdus.map(_._1.getName) ==
        (0 until nFiles).map(f => f"part$f%02d.fits"))
    }
  }
}
