package fitsbench

import java.io.{File, FileOutputStream}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.US_ASCII
import java.security.MessageDigest

import graft.sources.fits.core.TileCodec
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** Seeded value functions. Every generated value is a pure function of
  * (seed, key, column), so the oracle can recompute any row on demand,
  * and every double is a multiple of 2^-10 of bounded magnitude, so sums
  * are exact in any order. */
final case class Values(seed: Long) {
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def hash(key: Long, col: Int): Long = mix(mix(seed * 0x632BE59BD9B4E019L + key) + col)
  def uniform(key: Long, col: Int, m: Int): Int = java.lang.Math.floorMod(hash(key, col), m)

  // fixed-point values in units of 2^-10
  def raU(id: Long): Long = uniform(id, 1, 360 * 1024)
  def decU(id: Long): Long = uniform(id, 2, 180 * 1024) - 90 * 1024
  def magU(id: Long, band: Int): Long = 14 * 1024 + uniform(id, 3 + band, 16 * 1024)
  def flags(id: Long): Int = uniform(id, 8, 1 << 20)
  def nobs(id: Long): Short = uniform(id, 9, 1000).toShort
  def isStar(id: Long): Boolean = (hash(id, 10) & 1L) == 1L
  def name(id: Long): String = new String(nameBytes(id), US_ASCII)
  /** "OBJ" and the id in 13 digits: a full 16A field, no padding. */
  def nameBytes(id: Long): Array[Byte] = {
    val b = new Array[Byte](16)
    b(0) = 'O'; b(1) = 'B'; b(2) = 'J'
    var x = id
    var k = 15
    while (k >= 3) { b(k) = ('0' + x % 10).toByte; x /= 10; k -= 1 }
    b
  }
  def textLen(id: Long): Int = 8 + uniform(id, 11, 40)
  def textOff(id: Long): Int = uniform(id, 12, 64)

  /** Smooth gradient plus hashed texture; int16 images stay in
    * [1000, 3100], int32 images in [100000, 231328]. */
  def pixel(img: Long, x: Int, y: Int, bitpix: Int): Int = {
    val smooth = ((x.toLong * x + y.toLong * y) >> 12).toInt
    val texture = uniform(img * 100000007L + y.toLong * 65536 + x, 13, 32)
    if (bitpix == 16) 1000 + smooth + texture else 100000 + smooth * 64 + texture * 8
  }
}

object Values {
  val TextMax = 47
  val Pattern: String = ("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ" * 3).take(128)
  val PatternBytes: Array[Byte] = Pattern.getBytes(US_ASCII)
  def toDouble(units: Long): Double = units / 1024.0
  /** Spark's `hash(array)`: Murmur3 chained over the elements, seed 42. */
  def lineHash(pix: Array[Int], from: Int, until: Int): Int = {
    var h = 42
    var i = from
    while (i < until) { h = Murmur3_x86_32.hashInt(pix(i), h); i += 1 }
    h
  }
}

/** Writes FITS files from raw 80-byte cards and big-endian data blocks
  * (not through the connector's writer), digesting every byte. */
final class FitsOut(file: File) extends AutoCloseable {
  private val out = new FileOutputStream(file).getChannel
  private val digest = MessageDigest.getInstance("SHA-256")
  private var written = 0L

  def bytes: Long = written
  def sha256: Array[Byte] = digest.digest()

  def write(b: ByteBuffer): Unit = {
    b.flip()
    digest.update(b.duplicate())
    while (b.hasRemaining) written += out.write(b)
    b.clear()
  }

  def writeArray(a: Array[Byte]): Unit = write(ByteBuffer.wrap(a).position(a.length))

  def header(cards: Seq[String]): Unit = {
    val all = cards :+ FitsOut.card("END")
    val n = FitsOut.pad(all.size * 80L).toInt
    val b = ByteBuffer.allocate(n)
    all.foreach(c => b.put(c.getBytes(US_ASCII)))
    while (b.hasRemaining) b.put(' '.toByte)
    write(b)
  }

  /** Zero-fill to the next 2880-byte block. */
  def padBlock(): Unit = {
    val n = (FitsOut.pad(written) - written).toInt
    if (n > 0) writeArray(new Array[Byte](n))
  }

  /** Flushes to disk, so that write-back does not overlap the timed phase. */
  def close(): Unit = { out.force(true); out.close() }
}

object FitsOut {
  def pad(n: Long): Long = (n + 2879) / 2880 * 2880

  private def fit(s: String): String = s.padTo(80, ' ').take(80)
  def card(key: String): String = fit(key)
  def card(key: String, value: Any, comment: String = ""): String = {
    val v = value match {
      case s: String => ("'" + s.replace("'", "''").padTo(8, ' ') + "'").padTo(20, ' ')
      case b: Boolean => f"${if (b) "T" else "F"}%20s"
      case x => f"${x.toString}%20s"
    }
    fit(f"$key%-8s= $v" + (if (comment.nonEmpty) s" / $comment" else ""))
  }
  val Primary: Seq[String] =
    Seq(card("SIMPLE", true), card("BITPIX", 8), card("NAXIS", 0), card("EXTEND", true))
}

/** A bintable column: TFORM, width in bytes, and its big-endian writer. */
final case class Col(name: String, tform: String, width: Int, put: (ByteBuffer, Long) => Unit,
    stat: Option[Long => Double] = None)

/** Exact expected aggregates of a set of catalog rows, accumulated in
  * integer units while generating. */
final class CatalogSums {
  var rows, ra, dec, id, maxId, flags, nobs, stars, textLen, textFirst = 0L
  val mag = new Array[Long](5)
  def add(v: Values, g: Long): Unit = {
    rows += 1; ra += v.raU(g); dec += v.decU(g); id += g; maxId = math.max(maxId, g)
    var b = 0
    while (b < 5) { mag(b) += v.magU(g, b); b += 1 }
    flags += v.flags(g); nobs += v.nobs(g); if (v.isStar(g)) stars += 1
    textLen += v.textLen(g); textFirst += Values.Pattern.charAt(v.textOff(g)).toLong
  }
}

/** What generating one file produced: its digest, payload (HDU data)
  * bytes, file bytes and oracle facts. */
final case class FileGen(sha256: Array[Byte], payload: Long, bytes: Long, facts: Map[String, String])

/** A generated corpus on disk plus the oracle facts about it. */
final case class Corpus(dir: File, digest: String, files: Int, payloadBytes: Long,
    fileBytes: Long, genSeconds: Double, facts: Map[String, String])

object Corpus {
  val Bands = Seq("u", "g", "r", "i", "z")

  def catalogCols(v: Values): Seq[Col] = Seq(
    Col("ra", "1D", 8, (b, g) => b.putDouble(Values.toDouble(v.raU(g))), Some(g => Values.toDouble(v.raU(g)))),
    Col("dec", "1D", 8, (b, g) => b.putDouble(Values.toDouble(v.decU(g))), Some(g => Values.toDouble(v.decU(g))))) ++
    Bands.indices.map(k => Col(s"mag_${Bands(k)}", "1E", 4,
      (b, g) => b.putFloat(Values.toDouble(v.magU(g, k)).toFloat), Some(g => Values.toDouble(v.magU(g, k))))) ++ Seq(
    Col("id", "1K", 8, (b, g) => b.putLong(g), Some(_.toDouble)),
    Col("flags", "1J", 4, (b, g) => b.putInt(v.flags(g)), Some(g => v.flags(g).toDouble)),
    Col("nobs", "1I", 2, (b, g) => b.putShort(v.nobs(g))),
    Col("is_star", "1L", 1, (b, g) => b.put(if (v.isStar(g)) 'T'.toByte else 'F'.toByte)),
    Col("name", "16A", 16, (b, g) => b.put(v.nameBytes(g))))

  def lookupCols(v: Values): Seq[Col] = {
    val c = catalogCols(v).map(c => c.name -> c).toMap
    Seq("id", "ra", "dec", "mag_g", "mag_r", "flags", "name").map(c)
  }

  /** Header cards of one bintable HDU; `stats` adds GMINn/GMAXn. */
  private def tableHeader(cols: Seq[Col], rowBytes: Int, rows: Long, pcount: Long,
      extName: Option[String], stats: Seq[Option[(Double, Double)]], filler: Int): Seq[String] = {
    import FitsOut.card
    val base = Seq(card("XTENSION", "BINTABLE"), card("BITPIX", 8), card("NAXIS", 2),
      card("NAXIS1", rowBytes), card("NAXIS2", rows), card("PCOUNT", pcount), card("GCOUNT", 1),
      card("TFIELDS", cols.size)) ++ extName.map(card("EXTNAME", _))
    val colCards = cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(card(s"TTYPE${i + 1}", c.name), card(s"TFORM${i + 1}", c.tform)) ++
        stats(i).toSeq.flatMap { case (lo, hi) =>
          Seq(card(s"GMIN${i + 1}", fmt(lo)), card(s"GMAX${i + 1}", fmt(hi)))
        }
    }
    val fill = (1 to filler).map(k => card(f"OBSK$k%04d", k * 7, s"observation keyword $k"))
    base ++ colCards ++ fill
  }

  private def fmt(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString

  /** Generates `n` files on a small thread pool; results in index order. */
  private def parallel(n: Int)(gen: Int => FileGen): Seq[FileGen] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(4, Runtime.getRuntime.availableProcessors))
    try {
      val futures = (0 until n).map(i => pool.submit(new java.util.concurrent.Callable[FileGen] {
        def call(): FileGen = gen(i)
      }))
      futures.map(_.get())
    } finally pool.shutdown()
  }

  /** Reuses `dir` when its manifest exists; otherwise regenerates it.
    * The manifest is written last, so a cut generation is never reused.
    * The corpus digest is SHA-256 over the files' SHA-256s in order. */
  private def cached(dir: File)(gen: File => Seq[FileGen]): Corpus = {
    val manifest = new File(dir, "MANIFEST")
    if (manifest.isFile) {
      val p = new java.util.Properties()
      val in = new java.io.FileInputStream(manifest)
      try p.load(in) finally in.close()
      val m = p.stringPropertyNames().toArray.map(_.toString).map(k => k -> p.getProperty(k)).toMap
      Corpus(dir, m("digest"), m("files").toInt, m("payloadBytes").toLong, m("fileBytes").toLong,
        0.0, m.filter(_._1.startsWith("f.")).map { case (k, x) => k.drop(2) -> x })
    } else {
      Util.deleteTree(dir)
      dir.mkdirs()
      val t0 = System.nanoTime()
      val parts = gen(dir)
      val md = MessageDigest.getInstance("SHA-256")
      parts.foreach(p => md.update(p.sha256))
      val digest = md.digest().map(b => f"$b%02x").mkString.take(16)
      val (files, payload, fileBytes) = (parts.size, parts.map(_.payload).sum, parts.map(_.bytes).sum)
      val facts = parts.flatMap(_.facts).toMap
      val secs = (System.nanoTime() - t0) / 1e9
      val p = new java.util.Properties()
      p.setProperty("digest", digest); p.setProperty("files", files.toString)
      p.setProperty("payloadBytes", payload.toString); p.setProperty("fileBytes", fileBytes.toString)
      facts.foreach { case (k, x) => p.setProperty("f." + k, x) }
      val tmp = new File(dir, "MANIFEST.tmp")
      val out = new FileOutputStream(tmp)
      try p.store(out, null) finally out.close()
      tmp.renameTo(manifest)
      Corpus(dir, digest, files, payload, fileBytes, secs, facts)
    }
  }

  private def sumsFacts(s: CatalogSums): Map[String, String] = Map(
    "rows" -> s.rows, "ra" -> s.ra, "dec" -> s.dec, "id" -> s.id, "maxId" -> s.maxId,
    "flags" -> s.flags, "nobs" -> s.nobs, "stars" -> s.stars, "textLen" -> s.textLen,
    "textFirst" -> s.textFirst).map { case (k, x) => k -> x.toString } ++
    s.mag.indices.map(b => s"mag$b" -> s.mag(b).toString)

  /** `files` single-HDU catalogs of `rowsPerFile` rows each, with the
    * variable-length `1PA` text column in the heap. Ids are global and
    * ascending. */
  def catalog(dir: File, v: Values, files: Int, rowsPerFile: Int): Corpus = cached(dir) { d =>
    val cols = catalogCols(v)
    val main = cols.map(_.width).sum + 8
    parallel(files) { f =>
      val first = f.toLong * rowsPerFile
      val sums = new CatalogSums
      var heapBytes = 0L
      var g = first
      while (g < first + rowsPerFile) { heapBytes += v.textLen(g); g += 1 }
      val out = new FitsOut(new File(d, f"cat-$f%03d.fits"))
      try {
        out.header(FitsOut.Primary)
        out.header(tableHeader(cols :+ Col("text", s"1PA(${Values.TextMax})", 8, null),
          main, rowsPerFile, heapBytes, None, Seq.fill(cols.size + 1)(None), 0))
        val buf = ByteBuffer.allocate(8192 * main)
        var heapOff = 0L
        g = first
        while (g < first + rowsPerFile) {
          cols.foreach(_.put(buf, g))
          val len = v.textLen(g)
          buf.putInt(len).putInt(heapOff.toInt)
          heapOff += len
          sums.add(v, g)
          g += 1
          if (!buf.hasRemaining) out.write(buf)
        }
        out.write(buf)
        val heap = ByteBuffer.allocate(heapBytes.toInt)
        g = first
        while (g < first + rowsPerFile) { heap.put(Values.PatternBytes, v.textOff(g), v.textLen(g)); g += 1 }
        out.write(heap)
        out.padBlock()
        val payload = main.toLong * rowsPerFile + heapBytes
        val facts = (sumsFacts(sums) ++ Map("payload" -> payload.toString, "minId" -> first.toString))
          .map { case (k, x) => s"file$f.$k" -> x }
        FileGen(out.sha256, payload, out.bytes, facts)
      } finally out.close()
    }
  }

  val Extensions = Seq("OBJECTS", "SOURCES", "FORCED")
  /** Id of row `r` of file `f` in extension `e`: ascending within each
    * extension, so per-file GMIN/GMAX on `id` are disjoint ranges. */
  def lookupId(e: Int, f: Int, r: Int, rows: Int): Long = e * 1000000000L + f.toLong * rows + r

  /** `files` files of three EXTNAME'd bintables each, with long headers
    * (`cards` cards per HDU) carrying GMINn/GMAXn stats. */
  def lookup(dir: File, v: Values, files: Int, rows: Int, cards: Int): Corpus = cached(dir) { d =>
    val cols = lookupCols(v)
    val rowBytes = cols.map(_.width).sum
    parallel(files) { f =>
      val magR = new Array[Long](Extensions.size)
      val out = new FitsOut(new File(d, f"lk-$f%04d.fits"))
      try {
        out.header(FitsOut.Primary)
        for (e <- Extensions.indices) {
          val ids = (0 until rows).map(r => lookupId(e, f, r, rows))
          val stats = cols.map(_.stat.map(fn => (ids.map(fn).min, ids.map(fn).max)))
          val base = tableHeader(cols, rowBytes, rows, 0, Some(Extensions(e)), stats, 0).size
          out.header(tableHeader(cols, rowBytes, rows, 0, Some(Extensions(e)), stats,
            math.max(0, cards - base - 1)))
          val buf = ByteBuffer.allocate(rowBytes * rows)
          ids.foreach { g => cols.foreach(_.put(buf, g)); magR(e) += v.magU(g, 2) }
          out.write(buf)
          out.padBlock()
        }
        FileGen(out.sha256, rowBytes.toLong * rows * Extensions.size, out.bytes,
          Extensions.indices.map(e => s"magR.$e.$f" -> magR(e).toString).toMap)
      } finally out.close()
    }
  }

  /** One tile-compressed image group: codec and pixel type. */
  final case class ImageGroup(name: String, codec: String, bitpix: Int) {
    def bytepix: Int = bitpix / 8
  }
  val ImageGroups = Seq(ImageGroup("rice16", "RICE_1", 16), ImageGroup("hcomp16", "HCOMPRESS_1", 16),
    ImageGroup("rice32", "RICE_1", 32), ImageGroup("hcomp32", "HCOMPRESS_1", 32))
  def imageKey(group: Int, file: Int): Long = group * 1000L + file

  /** Tile-compressed W×H images, `perGroup` files per group, each in
    * its own directory; 2-D tiles of tw×th pixels, row-major. Facts hold
    * each file's line-hash checksum Σ hash(line)·(line+1). */
  def images(dir: File, v: Values, perGroup: Int, w: Int, h: Int, tw: Int, th: Int): Corpus =
    cached(dir) { d =>
      import FitsOut.card
      ImageGroups.foreach(g => new File(d, g.name).mkdirs())
      parallel(ImageGroups.size * perGroup) { k =>
        val (gi, f) = (k / perGroup, k % perGroup)
        val grp = ImageGroups(gi)
        val key = imageKey(gi, f)
        val pix = new Array[Int](w * h)
        var check = 0L
        for (y <- 0 until h) {
          var x = 0
          while (x < w) { pix(y * w + x) = v.pixel(key, x, y, grp.bitpix); x += 1 }
          check += Values.lineHash(pix, y * w, (y + 1) * w).toLong * (y + 1)
        }
        val tiles = for (ty <- 0 until (h + th - 1) / th; tx <- 0 until (w + tw - 1) / tw) yield {
          val x0 = tx * tw; val y0 = ty * th
          val cw = math.min(tw, w - x0); val ch = math.min(th, h - y0)
          val raw = ByteBuffer.allocate(cw * ch * grp.bytepix)
          for (y <- y0 until y0 + ch; x <- x0 until x0 + cw)
            if (grp.bytepix == 2) raw.putShort(pix(y * w + x).toShort) else raw.putInt(pix(y * w + x))
          TileCodec.compress2D(grp.codec, raw.array, grp.bytepix, 32, cw, ch, 0)
        }
        val heap = tiles.map(_.length.toLong).sum
        val params =
          if (grp.codec == "RICE_1") Seq("BLOCKSIZE" -> 32, "BYTEPIX" -> grp.bytepix)
          else Seq("SCALE" -> 0, "SMOOTH" -> 0)
        val out = new FitsOut(new File(new File(d, grp.name), f"img-$f%02d.fits"))
        try {
          out.header(FitsOut.Primary)
          out.header(Seq(card("XTENSION", "BINTABLE"), card("BITPIX", 8), card("NAXIS", 2),
            card("NAXIS1", 8), card("NAXIS2", tiles.size), card("PCOUNT", heap), card("GCOUNT", 1),
            card("TFIELDS", 1), card("TTYPE1", "COMPRESSED_DATA"),
            card("TFORM1", s"1PB(${tiles.map(_.length).max})"), card("ZIMAGE", true),
            card("ZBITPIX", grp.bitpix), card("ZNAXIS", 2), card("ZNAXIS1", w), card("ZNAXIS2", h),
            card("ZTILE1", tw), card("ZTILE2", th), card("ZCMPTYPE", grp.codec)) ++
            params.zipWithIndex.flatMap { case ((n, x), i) =>
              Seq(card(s"ZNAME${i + 1}", n), card(s"ZVAL${i + 1}", x))
            })
          val desc = ByteBuffer.allocate(8 * tiles.size)
          var off = 0
          tiles.foreach { t => desc.putInt(t.length).putInt(off); off += t.length }
          out.write(desc)
          tiles.foreach(out.writeArray)
          out.padBlock()
          FileGen(out.sha256, w.toLong * h * grp.bytepix, out.bytes, Map(s"check.$gi.$f" -> check.toString))
        } finally out.close()
      }
    }
}

object Util {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
