package fitsbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** One operation: `load` is the connector's resolution (`load()`),
  * `act` runs the action and checks its answer against the oracle.
  * `payload` is the FITS payload bytes the op covers; `needRows` the rows
  * its answer needs (for the useful-row fraction). */
final case class Op(shape: String, payload: Long, needRows: Long,
    load: () => DataFrame, act: DataFrame => Boolean)

/** A closed-loop workload: a corpus, a rotation of op shapes and the
  * oracle for each op. Op `i` takes its parameters from (seed, i). */
trait Workload {
  def name: String
  def shapes: Int
  /** Generates (or reuses) the corpus; untimed. */
  def prepare(): Seq[Corpus]
  /** Per-session set-up ("corpus open"), inside `setup_s`. */
  def open(spark: SparkSession): Unit = ()
  def op(spark: SparkSession, i: Long): Op
  /** Files whose headers the connector walks for op `i` (structure layer). */
  def structureFiles(i: Long): Seq[File] = Nil
  /** Untimed end-of-run check; returns false when the outputs are wrong. */
  def finish(spark: SparkSession): Boolean = true
  /** Whether ops write through the connector, and the bytes the last op wrote. */
  def writes: Boolean = false
  def writtenBytes: Long = 0L
}

object Workloads {
  val Names = Seq("catalog_scan", "catalog_lookup", "image_tiles", "catalog_write")

  def apply(name: String, v: Values, root: File): Workload = name match {
    case "catalog_scan" => new CatalogScan(v, root)
    case "catalog_lookup" => new CatalogLookup(v, root)
    case "image_tiles" => new ImageTiles(v, root)
    case "catalog_write" => new CatalogWrite(v, root)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${Names.mkString(", ")})")
  }

  def fits(spark: SparkSession, hdu: Any, path: String): DataFrame =
    spark.read.format("fits").option("hdu", hdu.toString).load(path)

  /** Corpus directory for (kind, parameters, seed); older corpora of the
    * same kind beyond the newest `keep` are deleted to bound disk use. */
  def corpusDir(root: File, kind: String, params: String, seed: Long, keep: Int = 2): File = {
    val base = new File(root, "corpus")
    base.mkdirs()
    val dir = new File(base, s"$kind-$params-s$seed")
    val others = Option(base.listFiles).toSeq.flatten
      .filter(f => f.getName.startsWith(kind + "-") && f != dir).sortBy(-_.lastModified)
    others.drop(keep - 1).foreach(Util.deleteTree)
    if (dir.exists) dir.setLastModified(System.currentTimeMillis())
    dir
  }

  def units(u: Long): Double = Values.toDouble(u)

  /** Aggregates over every catalog column, in the order of [[catalogExpect]]. */
  val catalogAggs: Seq[Column] = Seq(count(lit(1)), sum("ra"), sum("dec")) ++
    Corpus.Bands.map(b => sum(s"mag_$b")) ++ Seq(sum("id"), max("id"), sum("flags"),
    sum("nobs"), count_if(col("is_star")), sum(length(col("text"))), sum(ascii(col("text"))),
    min("name"), max("name"))

  /** Expected values of [[catalogAggs]] from the facts of one or more
    * files, each prefixed (e.g. "file3."); ids of the files must be one
    * contiguous ascending range. */
  def catalogExpect(v: Values, prefixes: Seq[String], f: Map[String, String]): Seq[Any] = {
    def l(k: String) = prefixes.map(p => f(p + k).toLong).sum
    def minId = prefixes.map(p => f(p + "minId").toLong).min
    def maxId = prefixes.map(p => f(p + "maxId").toLong).max
    Seq[Any](l("rows"), units(l("ra")), units(l("dec"))) ++ (0 until 5).map(b => units(l(s"mag$b"))) ++
      Seq(l("id"), maxId, l("flags"), l("nobs"), l("stars"), l("textLen"), l("textFirst"),
        v.name(minId), v.name(maxId))
  }

  def same(row: Row, expect: Seq[Any]): Boolean =
    row.length == expect.length && expect.indices.forall(i => row.get(i) == expect(i))
}

import Workloads._

/** Full-table aggregates over a decode-bound multi-file catalog. Each op
  * reads a one-file slice; consecutive rotations move to the next slice,
  * so the working set is the whole corpus, larger than the last-level
  * cache. The two heavier shapes run twice per rotation, so the median
  * and the tail percentile fall inside one shape's latencies rather than
  * on the edge between two. */
final class CatalogScan(v: Values, root: File) extends Workload {
  val name = "catalog_scan"
  val files = 8
  val rowsPerFile = 400000
  val sliceFiles = 1
  private val rotation = Seq("one_col", "four_cols", "varlen", "all_fixed", "varlen", "all_fixed")
  val shapes = rotation.size
  private var corpus: Corpus = _

  def prepare(): Seq[Corpus] = {
    corpus = Corpus.catalog(corpusDir(root, "catalog", s"${files}x$rowsPerFile", v.seed), v, files, rowsPerFile)
    Seq(corpus)
  }

  private def slice(i: Long): Seq[Int] = {
    val first = (i / shapes % (files / sliceFiles)).toInt * sliceFiles
    first until first + sliceFiles
  }
  private def file(f: Int) = new File(corpus.dir, f"cat-$f%03d.fits")

  override def structureFiles(i: Long): Seq[File] = slice(i).map(file)

  def op(spark: SparkSession, i: Long): Op = {
    val fs = slice(i)
    val e = catalogExpect(v, fs.map(f => s"file$f."), corpus.facts)
    val all = catalogAggs
    val shape = rotation((i % shapes).toInt)
    val pick = shape match { // indices into catalogAggs
      case "one_col" => Seq(5)
      case "four_cols" => Seq(1, 2, 9, 10)
      case "all_fixed" => (0 to 12) ++ Seq(15, 16)
      case _ => Seq(13, 14)
    }
    Op(shape, fs.map(f => corpus.facts(s"file$f.payload").toLong).sum, e.head.asInstanceOf[Long],
      () => fits(spark, 1, fs.map(file(_).getPath).mkString(",")),
      df => same(df.agg(all(pick.head), pick.tail.map(all): _*).head(), pick.map(e)))
  }
}

/** Fresh EXTNAME loads over small multi-HDU long-header files: driver-bound. */
final class CatalogLookup(v: Values, root: File) extends Workload {
  val name = "catalog_lookup"
  val files = 16
  val rows = 2000
  val cards = 200
  val shapes = 5
  private var corpus: Corpus = _
  private val rowBytes = Corpus.lookupCols(v).map(_.width).sum

  def prepare(): Seq[Corpus] = {
    corpus = Corpus.lookup(corpusDir(root, "lookup", s"${files}x${rows}c$cards", v.seed), v, files, rows, cards)
    Seq(corpus)
  }

  override def structureFiles(i: Long): Seq[File] =
    corpus.dir.listFiles.filter(_.getName.endsWith(".fits")).toSeq

  private def rowOk(r: Row, ext: Int): Boolean = {
    val id = r.getAs[Long]("id")
    id / 1000000000L == ext && id % 1000000000L < files.toLong * rows &&
      r.getAs[Double]("ra") == units(v.raU(id)) &&
      r.getAs[Float]("mag_r") == units(v.magU(id, 2)).toFloat &&
      r.getAs[String]("name") == v.name(id)
  }

  def op(spark: SparkSession, i: Long): Op = {
    val ext = v.uniform(i, 19, Corpus.Extensions.size)
    val total = files.toLong * rows
    val base = ext * 1000000000L
    val load = () => fits(spark, Corpus.Extensions(ext), corpus.dir.getPath)
    val payload = rowBytes.toLong * total
    (i % shapes).toInt match {
      case 0 =>
        val id = base + v.uniform(i, 20, total.toInt)
        Op("point", payload, 1, load, df => {
          val got = df.where(col("id") === id).select("id", "ra", "mag_r", "name").collect()
          got.length == 1 && rowOk(got(0), ext)
        })
      case 1 => Op("count", payload, total, load, df => df.count() == total)
      case 2 =>
        val span = 5000
        val lo = base + v.uniform(i, 21, (total - span).toInt)
        val magG = (lo until lo + span).map(v.magU(_, 1)).sum
        Op("range", payload, span, load, df =>
          same(df.where(col("id").between(lo, lo + span - 1)).agg(count(lit(1)), sum("mag_g")).head(),
            Seq[Any](span.toLong, units(magG))))
      case 3 =>
        Op("limit", payload, 10, load, df => {
          val got = df.limit(10).collect()
          got.length == 10 && got.forall(rowOk(_, ext))
        })
      case _ =>
        Op("projection", payload, total, load, df =>
          same(df.select("mag_r").agg(sum("mag_r")).head(), Seq(units((0 until files).map(f => corpus.facts(s"magR.$ext.$f").toLong).sum))))
    }
  }
}

/** Full decodes and 2-D cutouts of RICE_1 / HCOMPRESS_1 tiled images. */
final class ImageTiles(v: Values, root: File) extends Workload {
  val name = "image_tiles"
  val perGroup = 2
  val (w, h, tw, th) = (2048, 2048, 512, 32)
  val (cutW, cutH) = (300, 80)
  val shapes = 3 * Corpus.ImageGroups.size
  private var corpus: Corpus = _

  def prepare(): Seq[Corpus] = {
    corpus = Corpus.images(corpusDir(root, "images", s"${perGroup}x${w}x${h}t${tw}x$th", v.seed),
      v, perGroup, w, h, tw, th)
    Seq(corpus)
  }

  private def groupDir(g: Int) = new File(corpus.dir, Corpus.ImageGroups(g).name)
  private def file(g: Int, f: Int) = new File(groupDir(g), f"img-$f%02d.fits")
  private val checksum: Column = sum(hash(col("Image")).cast("long") * (col("ImgIndex") + 1))

  // op i: group (i % shapes) / 3; a full decode, then two cutouts
  override def structureFiles(i: Long): Seq[File] = {
    val g = ((i % shapes) / 3).toInt
    if (i % 3 == 0) (0 until perGroup).map(file(g, _)) else Seq(file(g, v.uniform(i, 30, perGroup)))
  }

  def op(spark: SparkSession, i: Long): Op = {
    val g = ((i % shapes) / 3).toInt
    val grp = Corpus.ImageGroups(g)
    if (i % 3 == 0) {
      val lines = perGroup.toLong * h
      val expect = (0 until perGroup).map(f => corpus.facts(s"check.$g.$f").toLong).sum
      Op(s"full_${grp.name}", lines * w * grp.bytepix, lines,
        () => fits(spark, 1, groupDir(g).getPath),
        df => same(df.agg(count(lit(1)), checksum).head(), Seq(lines, expect)))
    } else {
      val f = v.uniform(i, 30, perGroup)
      val x0 = v.uniform(i, 31, w - cutW)
      val y0 = v.uniform(i, 32, h - cutH)
      val key = Corpus.imageKey(g, f)
      val pix = new Array[Int](cutW)
      val expect = (y0 until y0 + cutH).map { y =>
        for (x <- 0 until cutW) pix(x) = v.pixel(key, x0 + x, y, grp.bitpix)
        Values.lineHash(pix, 0, cutW).toLong * (y + 1)
      }.sum
      Op(s"cutout_${grp.name}", cutW.toLong * cutH * grp.bytepix, cutH,
        () => spark.read.format("fits").option("hdu", "1")
          .option("colRange", s"$x0:${x0 + cutW - 1}").load(file(g, f).getPath),
        df => same(df.where(col("ImgIndex").between(y0, y0 + cutH - 1)).agg(count(lit(1)), checksum).head(),
          Seq(cutH.toLong, expect)))
    }
  }
}

/** Overwrites of a cached in-memory catalog through the FITS writer. */
final class CatalogWrite(v: Values, root: File) extends Workload {
  val name = "catalog_write"
  val files = 2
  val rowsPerFile = 120000
  val shapes = 1
  private var source: Corpus = _
  private var cached: DataFrame = _
  private val out = new File(root, "work/write-out")
  private var reference: Seq[Long] = Nil
  private var lastBytes = 0L

  def prepare(): Seq[Corpus] = {
    source = Corpus.catalog(corpusDir(root, "wsource", s"${files}x$rowsPerFile", v.seed), v, files, rowsPerFile)
    Seq(source)
  }

  override def open(spark: SparkSession): Unit = {
    cached = fits(spark, 1, source.dir.getPath).cache()
    require(cached.count() == files.toLong * rowsPerFile, "cached source row count")
  }

  private def sizes(): Seq[Long] =
    Option(out.listFiles).toSeq.flatten.filter(_.getName.endsWith(".fits")).map(_.length).sorted

  override def writes: Boolean = true
  override def writtenBytes: Long = lastBytes

  def op(spark: SparkSession, i: Long): Op =
    Op("overwrite", source.payloadBytes, 0, () => cached, df => {
      df.write.format("fits").mode("overwrite").save(out.getPath)
      val s = sizes()
      lastBytes = s.sum
      if (reference.isEmpty) reference = s
      s.nonEmpty && s == reference
    })

  /** Reads the last op's output back and compares every aggregate. */
  override def finish(spark: SparkSession): Boolean =
    same(fits(spark, 1, out.getPath).agg(catalogAggs.head, catalogAggs.tail: _*).head(),
      catalogExpect(v, (0 until files).map(f => s"file$f."), source.facts))
}
