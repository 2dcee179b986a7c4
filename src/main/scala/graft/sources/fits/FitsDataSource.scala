package graft.sources.fits

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.internal.Logging
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.fits.core._

/** Spark DataSource V2 for the FITS astronomy format:
  * `spark.read.format("fits").option("hdu", 1).load(path)`.
  *
  * Idiomatic rebuild of the reference's V1 connector
  * (DefaultSource.scala:26-53) with the architecture SURVEY §7 calls
  * for: all per-file metadata (header, HDU boundaries, row layout) is
  * computed once on the driver and serialized into each InputPartition,
  * partitions are planned as row-aligned byte ranges (no runtime split
  * rejection or rewind — the reference's trickiest code, issue #93,
  * disappears), and column pruning flows from Catalyst via
  * `SupportsPushDownRequiredColumns` instead of a manual option (the
  * `columns` option is kept as a compatible alias).
  *
  * Options: `hdu` (mandatory), `columns` (comma list, prunes+reorders),
  * `recordlength` (buffer size hint, validated ≥ row size), `mode`
  * (PERMISSIVE skips schema-mismatched files, FAILFAST throws),
  * `verbose`.
  */
class FitsDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "fits"
  override def supportsExternalMetadata(): Boolean = true

  /** Spark builds a provider per load() and calls inferSchema, then
    * getTable with the same options: the resolution inferSchema built
    * (file list, first-file walk) is handed to getTable, so one load()
    * lists and walks once. getTable consumes it, so nothing outlives
    * the load() that built it. */
  private var inferred: Option[FitsResolution] = None

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val res = FitsResolution(options.asCaseSensitiveMap().asScala.toMap)
    synchronized { inferred = Some(res) }
    res.tableSchema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val options = properties.asScala.toMap
    val res = synchronized {
      val r = inferred.filter(_.options == options)
      inferred = None
      r
    }.getOrElse(FitsResolution(options))
    // the inferred-schema comparison must not force file resolution:
    // a write targets a directory that may not exist yet
    new FitsTable(res, Option(schema).filter(s =>
      scala.util.Try(res.inferredSchema).map(_ != s).getOrElse(true)))
  }
}

/** Driver-side resolution of one read: the file list and each file's
  * HDUs, walked at most once. Eagerly validates options the way the
  * reference does (FitsSourceRelation.scala:109-120).
  *
  * Lifetime: one resolution per load(), held by the table, so a loaded
  * DataFrame keeps its file list and headers for every action it runs
  * (like Spark's own file sources); a new load() sees changed files. */
final case class FitsResolution(options: Map[String, String]) {
  private val ci: Map[String, String] = options.map { case (k, v) => k.toLowerCase -> v }

  val pathSpec: String = ci.getOrElse("path",
    throw new IllegalArgumentException("'path' must be specified"))
  // lazy: the write path needs no HDU; every read path forces it up
  // front (schema inference / scan planning), keeping the eager-error
  // parity with the reference for reads. The option is an index OR an
  // EXTNAME (astropy-style): a non-numeric value resolves against each
  // file's EXTNAME cards, case-insensitively — so heterogeneous files
  // that place the named extension at different indices still union.
  lazy val hduSpec: String = ci.getOrElse("hdu",
    throw new IllegalArgumentException(
      "You need to specify the HDU to be read! Set the 'hdu' option.")).trim
  private lazy val hduSpecIndex: Option[Int] = hduSpec.toIntOption

  /** Multi-HDU load: `hdu` accepts a single index or EXTNAME, a COMMA
    * LIST of either, or `all` (every readable data-bearing HDU, schema
    * compatibility enforced under the session mode). Real MEF
    * (multi-extension FITS) archives store N same-schema bintables per
    * file; the reference forces one load() per HDU
    * (FitsSourceRelation.scala:114-120) and users union by hand. */
  private lazy val hduTokens: Seq[String] =
    hduSpec.split(',').map(_.trim).filter(_.nonEmpty).toSeq
  lazy val isAllHdu: Boolean = hduSpec.equalsIgnoreCase("all")
  lazy val isMultiHdu: Boolean = isAllHdu || hduTokens.lengthCompare(1) > 0

  /** Resolves the FIRST target HDU in one file (the schema source):
    * the numeric index, or the first HDU whose EXTNAME matches; for
    * `all`, the first readable data-bearing HDU; −1 when absent
    * (callers treat that like an out-of-range index). */
  def hduIndexFor(hdus: Vector[Hdu]): Int =
    if (isAllHdu)
      hdus.indexWhere(h => h.meta.isReadable && h.meta.rowBytes > 0)
    else hduTokens.headOption.flatMap(_.toIntOption).getOrElse {
      hdus.indexWhere(_.header.values.get("EXTNAME")
        .exists(n => hduTokens.headOption.exists(n.trim.equalsIgnoreCase)))
    }

  /** Per-token resolution in one file: (token, index) with −1 /
    * out-of-range preserved, so the planner can report EACH
    * unresolved token through the session mode (a list `"1,9"` with
    * only HDU 1 present must FAILFAST like a bare `"9"` would, not
    * silently return HDU 1's rows). Empty for `all`. */
  def hduResolutionsFor(hdus: Vector[Hdu]): Seq[(String, Int)] =
    if (isAllHdu) Seq.empty
    else hduTokens.map { tok =>
      tok -> tok.toIntOption.getOrElse {
        hdus.indexWhere(_.header.values.get("EXTNAME")
          .exists(_.trim.equalsIgnoreCase(tok)))
      }
    }

  /** EVERY resolved target HDU index in one file, in file order,
    * deduplicated: the parsed list (index or EXTNAME per token), or
    * all readable data-bearing HDUs for `all`. Unresolved tokens are
    * absent here — diagnose them via [[hduResolutionsFor]]. */
  def hduIndicesFor(hdus: Vector[Hdu]): Seq[Int] =
    if (isAllHdu)
      hdus.indices.filter(i =>
        hdus(i).meta.isReadable && hdus(i).meta.rowBytes > 0)
    else hduResolutionsFor(hdus).map(_._2)
      .filter(i => i >= 0 && i < hdus.length).distinct

  /** The `hdu` tokens that resolve to no HDU of this file. */
  def missingHduTokens(hdus: Vector[Hdu]): Seq[String] =
    hduResolutionsFor(hdus).collect {
      case (tok, i) if i < 0 || i >= hdus.length => tok
    }

  lazy val hduIndex: Int = hduSpecIndex.getOrElse {
    val i = hduIndexFor(firstFileHdus)
    require(i >= 0,
      s"no HDU with EXTNAME '$hduSpec' in ${files.head} " +
        s"(names: ${firstFileHdus.flatMap(_.header.values.get("EXTNAME"))
          .map(_.trim).mkString(", ")})")
    i
  }
  val mode: String = ci.getOrElse("mode", "PERMISSIVE").toUpperCase
  /** Write option: `option("image", true)` writes an IMAGE primary HDU
    * (one row per image line) instead of a BINTABLE extension. */
  val imageWrite: Boolean = ci.get("image").exists(_.toBoolean)
  /** Write option (image mode only): tile-compress each image line per
    * the ZIMAGE convention — `RICE_1` (integer pixels), `GZIP_1`,
    * `GZIP_2` or `NOCOMPRESS`. The output reads back through this
    * source's compressed-image path (and fpack-compatible readers). */
  val imageCompress: Option[String] = ci.get("compress").map(_.trim.toUpperCase)
  /** Write option (with `compress`): 2D tile size `"WxH"` in pixels —
    * default is whole-line tiles (`ZTILE1`=width, `ZTILE2`=1). 2D tiles
    * compress better when vertical correlation beats horizontal (and
    * match `fpack -t`); the reader handles both layouts. */
  val compressTile: Option[(Int, Int)] = ci.get("compresstile").map { v =>
    val parts = v.toLowerCase.split("x")
    require(parts.length == 2 &&
      parts.forall(p => scala.util.Try(p.trim.toInt).toOption.exists(_ > 0)),
      s"compressTile must be WxH with positive integers, got '$v'")
    (parts(0).trim.toInt, parts(1).trim.toInt)
  }
  /** Write option (with `compress`, float pixels): lossy NO_DITHER
    * quantization in fpack's terms — the per-tile step is tileSigma/q,
    * so larger q preserves more precision. Codes are int32 with
    * per-tile ZSCALE/ZZERO columns; non-finite pixels become ZBLANK
    * (read back as NULL). */
  val quantize: Option[Double] = ci.get("quantize").map { v =>
    val q = v.toDouble
    require(q > 0, s"quantize must be a positive sigma divisor, got $v")
    q
  }
  /** Write option (with `quantize`): subtractive dithering per the
    * tiled-image convention — 1 (SUBTRACTIVE_DITHER_1) adds the
    * convention's Park–Miller random offset per pixel before rounding
    * (decorrelates quantization noise from the signal), 2
    * (SUBTRACTIVE_DITHER_2) additionally stores exact-0.0 pixels
    * losslessly. The seed is `ditherSeed` (ZDITHER0). */
  val dither: Int = ci.get("dither").map { v =>
    val d = v.trim.toInt
    require(d == 1 || d == 2, s"dither must be 1 or 2, got '$v'")
    d
  }.getOrElse(0)
  val ditherSeed: Int = ci.get("ditherseed").map { v =>
    val sd = v.trim.toInt
    require(sd >= 1 && sd <= FitsDither.NRandom,
      s"ditherSeed must be in 1..10000, got '$v'")
    sd
  }.getOrElse(1)
  /** Write option (with `compress = HCOMPRESS_1`): the H-transform
    * digitization scale. 0 (default) or 1 is lossless; larger values
    * divide transform coefficients by `hcompScale` before coding —
    * lossy, reconstruction error bounded by a small multiple of the
    * scale. Stored per-tile in the stream (and as ZVAL SCALE). */
  val hcompScale: Int = ci.get("hcompscale").map { v =>
    val s = v.trim.toInt
    require(s >= 0, s"hcompScale must be >= 0, got '$v'")
    s
  }.getOrElse(0)
  /** Write option (with lossy `hcompScale`): record `SMOOTH = 1` so
    * readers apply the smoothed reconstruction (decode-side
    * interpolation inside the quantization interval — the data stream
    * itself is unchanged). */
  val hcompSmooth: Boolean = ci.get("hcompsmooth").exists(_.toBoolean)
  /** Write option (image modes): emit DATASUM + CHECKSUM cards per the
    * FITS checksum convention (one extra sequential pass over the
    * partition's spill). Verify with [[FitsChecksumReport]]. */
  val checksumWrite: Boolean = ci.get("checksum").exists(_.toBoolean)
  /** Streaming-read option: cap how many new files one micro-batch
    * admits (same contract as Spark's file source) — without it a
    * large backlog becomes a single giant batch. */
  val maxFilesPerTrigger: Option[Int] =
    ci.get("maxfilespertrigger").map(_.toInt)
  val verbose: Boolean = ci.get("verbose").exists(_.toBoolean)
  val recordLength: Option[Int] = ci.get("recordlength").map(_.toInt)
  /** Read option (image HDUs): `colRange = "lo:hi"` — an inclusive,
    * 0-based pixel-COLUMN window pushed into the scan. The second
    * cutout axis, pairing with the line-range (`ImgIndex` predicate)
    * pushdown: emitted `Image` arrays hold only the window, plain
    * images with wide lines read only the window's bytes per line
    * (strided positioned reads), and tile-compressed images
    * decompress only the tiles intersecting the window. A 100×100
    * cutout of a 100k-pixel-wide exposure stops paying for full
    * lines. */
  val colRange: Option[(Int, Int)] = ci.get("colrange").map { v =>
    val p = v.split(":")
    require(p.length == 2 &&
      p.forall(x => scala.util.Try(x.trim.toLong).isSuccess),
      s"colRange must be 'lo:hi' with integers, got '$v'")
    val (lo, hi) = (p(0).trim.toLong, p(1).trim.toLong)
    require(lo >= 0 && hi >= lo && hi <= Int.MaxValue,
      s"colRange needs 0 <= lo <= hi, got '$v'")
    (lo.toInt, hi.toInt)
  }
  val columnsOption: Option[Seq[String]] =
    ci.get("columns").map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))

  @transient lazy val hadoopConf: Configuration =
    SparkSession.active.sessionState.newHadoopConf()

  @transient lazy val files: Seq[Path] = FitsFiles.resolve(pathSpec, hadoopConf)

  /** One file's HDUs, walked on first use and then kept. */
  private final class Walk(val path: Path) {
    lazy val hdus: Vector[Hdu] = scanFile(path)
  }
  @transient private lazy val walks: Vector[Walk] = files.map(new Walk(_)).toVector

  def firstFileHdus: Vector[Hdu] = walks.head.hdus

  /** Every file's HDUs in file order, walked in parallel on first use —
    * shared by statistics, partition planning and metadata aggregates
    * of every scan over this resolution. */
  @transient lazy val fileHdus: Seq[(Path, Vector[Hdu])] =
    FitsFiles.parMap(walks, 16)(w => w.path -> w.hdus)

  def scanFile(p: Path): Vector[Hdu] =
    FitsStructure.scan(p.getFileSystem(hadoopConf), p)

  /** Walks `ps` without keeping the result here — for paths outside
    * [[files]], such as a stream's newly arrived files. */
  def scanFiles(ps: Seq[Path]): Seq[(Path, Vector[Hdu])] =
    FitsFiles.parMap(ps, 16)(p => p -> scanFile(p))

  /** The target HDU's metadata with the `columns` option applied. */
  def targetMeta(hdus: Vector[Hdu], file: Path): HduMeta = {
    val idx = hduIndexFor(hdus)
    require(idx >= 0 && idx < hdus.length,
      if (hduSpecIndex.isDefined)
        s"HDU index $hduSpec does not exist in $file " +
          s"(file has ${hdus.length} HDUs)"
      else
        s"no HDU with EXTNAME '$hduSpec' in $file (names: " +
          hdus.flatMap(_.header.values.get("EXTNAME"))
            .map(_.trim).mkString(", ") + ")")
    targetMetaAt(hdus, idx)
  }

  /** The HDU-`idx` metadata with the `columns` option applied. */
  def targetMetaAt(hdus: Vector[Hdu], idx: Int): HduMeta = {
    val meta = hdus(idx).meta
    (meta, columnsOption) match {
      case (b: HduMeta.Bintable, Some(names)) => b.select(names)
      case _ => meta
    }
  }

  @transient lazy val firstMeta: HduMeta = {
    // PERMISSIVE: infer from the first file whose target HDU is
    // readable — an empty-HDU file that merely sorts first must not
    // empty the whole multi-file read. FAILFAST keeps strict
    // first-file semantics so inconsistencies surface eagerly.
    val meta = targetMeta(firstFileHdus, files.head)
    val chosen =
      if (meta.isReadable || mode == "FAILFAST" || files.lengthCompare(1) == 0)
        meta
      else walks.iterator.drop(1)
        .map(w => targetMeta(w.hdus, w.path))
        .collectFirst { case m if m.isReadable => m }
        .getOrElse(meta)
    recordLength.foreach { rl =>
      require(rl >= chosen.rowBytes,
        s"recordLength $rl is smaller than the row size ${chosen.rowBytes} B" +
          " — increase it or drop the option")
    }
    chosen
  }

  def inferredSchema: StructType = firstMeta.schema
  def tableSchema: StructType = inferredSchema

  /** Name of the line-index column when the target HDU is an image —
    * resolved POSITIONALLY (field 1 of the two-field image schema), the
    * same binding `columns`/user schemas use, so a user-renamed index
    * column still prunes. Bintables never qualify: a data column that
    * merely happens to be named `ImgIndex` carries values unrelated to
    * row position, and pruning on it would drop wrong rows. ONE
    * definition shared by the static pushdown (builder) and runtime
    * filtering (scan): the two prune paths must gate identically or
    * runtime pruning silently stops matching what the builder folds. */
  def lineIndexColIn(schema: StructType): Option[String] = firstMeta match {
    case _: HduMeta.Image | _: HduMeta.CompImage
        if schema.length == 2 => Some(schema.fields(1).name)
    case _ => None
  }
}

final class FitsTable(res: FitsResolution, userSchema: Option[StructType])
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  override def name(): String = s"fits:${res.pathSpec}"
  override def schema(): StructType = userSchema.getOrElse(res.inferredSchema)
  /** Hidden provenance columns (`_file_path`, `_hdu`, `_row_index`) —
    * see [[FitsMetadata]]. Selectable by name, never inferred. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    FitsMetadata.columnsFor(schema())
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new FitsScanBuilder(res, schema())
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new FitsWriteBuilder(res, info)
}

final class FitsScanBuilder(res: FitsResolution, tableSchema: StructType)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit
    with SupportsPushDownFilters {
  private var required: StructType = tableSchema
  private var metaCols: Array[String] = Array.empty
  private var limit: Option[Long] = None
  private var accepted: Array[org.apache.spark.sql.sources.Filter] =
    Array.empty
  private var lineRange: Option[(Long, Long)] = None
  private var rowRange: Option[(Long, Long)] = None

  // fail-loud at planning time, not mid-task: a column window has no
  // meaning for a bintable's heterogeneous columns
  res.colRange.foreach { _ =>
    res.firstMeta match {
      case _: HduMeta.Image | _: HduMeta.CompImage => ()
      case _ => throw new IllegalArgumentException(
        s"colRange applies to IMAGE HDUs; HDU ${res.hduSpec} of " +
          s"${res.files.head} is not one")
    }
  }

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // metadata columns ([[FitsMetadata]]) arrive in the required schema
    // by name; split them out so positional data binding stays intact —
    // a data column that shares the name stays data (it shadows the
    // metadata column at the table level already)
    val dataNames = tableSchema.fieldNames.toSet
    val (meta, data) = requiredSchema.fields.partition(f =>
      !dataNames.contains(f.name) && FitsMetadata.kindOf(f.name) >= 0)
    required = StructType(data)
    metaCols = meta.map(_.name)
  }

  /** Rows are fixed-width, so LIMIT n maps exactly to the first n rows
    * of the first file(s): plan only that byte range. Partial pushdown
    * — Spark still applies the final limit. */
  override def pushLimit(n: Int): Boolean = {
    limit = Some(n.toLong)
    true
  }

  /** See [[FitsResolution.lineIndexColIn]] — shared with FitsScan. */
  private lazy val lineIndexCol: Option[String] =
    res.lineIndexColIn(tableSchema)

  /** Image-cutout pushdown: conjuncts that bound the line-index column
    * of an image HDU (`ImgIndex =, <, <=, >, >=, IN`) fold into one
    * [lo, hi] line range that the partition planner clamps to — a
    * cutout of a 100 GB image plans (and reads) only the byte bands the
    * range intersects. This is an OPTIMIZATION, never a correctness
    * dependency: every filter is also returned as residual, so Spark
    * re-evaluates the full predicate on emitted rows (band-aligned
    * clamps on compressed images legitimately emit a few extra edge
    * lines). */
  private def foldRange(col: String,
      filters: Array[org.apache.spark.sql.sources.Filter])
      : (Option[(Long, Long)], Array[org.apache.spark.sql.sources.Filter]) =
    FitsScanBuilder.foldRange(col, filters)

  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    val acc = Array.newBuilder[org.apache.spark.sql.sources.Filter]
    lineIndexCol.foreach { col =>
      val (r, a) = foldRange(col, filters)
      lineRange = r; acc ++= a
    }
    // `_row_index` bounds prune EVERY HDU type — rows are fixed width,
    // so "rows N..M of a 100 GB table" plans only those bytes (exact
    // for tables and plain images, tile-band-widened for compressed).
    // A data column shadowing the name keeps data semantics: no clamp.
    if (!tableSchema.fieldNames.contains(FitsMetadata.RowIndex)) {
      val (r, a) = foldRange(FitsMetadata.RowIndex, filters)
      rowRange = r; acc ++= a
    }
    // value predicates on data columns: evaluated per file against the
    // writer's GMINn/GMAXn header stats at plan time (see [[FitsStats]])
    val dataCols = tableSchema.fieldNames.toSet
    valueFilters = filters.filter(f =>
      FitsStats.colOf(f).exists(dataCols.contains))
    acc ++= valueFilters
    accepted = acc.result().distinct
    filters
  }
  private var valueFilters
      : Array[org.apache.spark.sql.sources.Filter] = Array.empty

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    accepted

  /** Metadata-answerable aggregates push down (zero data bytes read at
    * any scale): `COUNT(*)`, and `MIN`/`MAX` of the line-index column
    * of an image HDU or of `_row_index` on any HDU — per file those
    * are just 0 and NAXIS2−1. Partial-pushdown protocol: the scan
    * emits per-file partial rows, Spark combines them. Spark only
    * offers the aggregation when every filter was fully pushed; this
    * source keeps all filters residual, so any filtered query
    * correctly falls back to the row scan. */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    if (aggregation.groupByExpressions().nonEmpty) return false
    def idxKind(e: org.apache.spark.sql.connector.expressions.Expression,
        k: Int): Int = e match {
      case nr: org.apache.spark.sql.connector.expressions.NamedReference
          if nr.fieldNames().length == 1 =>
        val n = nr.fieldNames().head
        val isImgLine = lineIndexCol.contains(n)
        val isMetaIdx = n == FitsMetadata.RowIndex &&
          !tableSchema.fieldNames.contains(n)
        if (isImgLine || isMetaIdx) k else -1
      case _ => -1
    }
    import org.apache.spark.sql.connector.expressions.aggregate.{Max, Min}
    val kinds = aggregation.aggregateExpressions().map {
      case _: CountStar => FitsAggScan.KindCount
      case m: Min => idxKind(m.column(), FitsAggScan.KindMinIdx)
      case m: Max => idxKind(m.column(), FitsAggScan.KindMaxIdx)
      case _ => -1
    }
    val ok = kinds.nonEmpty && kinds.forall(_ >= 0)
    if (ok) aggKinds = kinds
    ok
  }
  private var aggKinds: Array[Int] = Array.empty

  override def build(): Scan =
    if (aggKinds.nonEmpty) new FitsAggScan(res, aggKinds)
    else new FitsScan(res, tableSchema, required, limit, lineRange,
      metaCols, rowRange, valueFilters)
}

object FitsScanBuilder {
  /** Folds index-bounding conjuncts on `col` into one [lo, hi] range;
    * returns the range (if any bound tightened) and the filters it
    * understood (reported as accepted — they STILL stay residual).
    * Shared by the static pushdown (builder) and runtime filtering
    * (scan), so both prune with identical semantics. */
  private[fits] def foldRange(col: String,
      filters: Array[org.apache.spark.sql.sources.Filter])
      : (Option[(Long, Long)], Array[org.apache.spark.sql.sources.Filter]) = {
    import org.apache.spark.sql.sources._
    var lo = 0L
    var hi = Long.MaxValue
    def asLong(v: Any): Option[Long] = v match {
      case n: java.lang.Number => Some(n.longValue())
      case _ => None
    }
    val acc = Array.newBuilder[Filter]
    filters.foreach {
      case f @ EqualTo(`col`, v) => asLong(v).foreach { x =>
        lo = math.max(lo, x); hi = math.min(hi, x); acc += f }
      case f @ GreaterThan(`col`, v) => asLong(v).foreach { x =>
        if (x < Long.MaxValue) lo = math.max(lo, x + 1); acc += f }
      case f @ GreaterThanOrEqual(`col`, v) => asLong(v).foreach { x =>
        lo = math.max(lo, x); acc += f }
      case f @ LessThan(`col`, v) => asLong(v).foreach { x =>
        if (x > Long.MinValue) hi = math.min(hi, x - 1) else hi = -1
        acc += f }
      case f @ LessThanOrEqual(`col`, v) => asLong(v).foreach { x =>
        hi = math.min(hi, x); acc += f }
      case f @ In(`col`, vs) if vs.nonEmpty =>
        val xs = vs.flatMap(asLong)
        if (xs.length == vs.length) {
          lo = math.max(lo, xs.min); hi = math.min(hi, xs.max); acc += f
        }
      case f @ IsNotNull(`col`) => acc += f // emitted indices are never null
      case _ => () // unsupported shape: residual-only, no pruning
    }
    (if (lo > 0L || hi < Long.MaxValue) Some((lo, hi)) else None,
      acc.result())
  }

  /** Folds index conjuncts on `col` into a SORTED, DISJOINT run list —
    * the runtime-filter variant of [[foldRange]]. An `In` value set
    * (the shape a DPP-style join filter arrives as) keeps its gaps: 50
    * alert lines scattered across a 100 GB exposure prune to ≤50 byte
    * ranges instead of one whole-file envelope. Range conjuncts fold
    * exactly as in foldRange and INTERSECT the runs. None = no
    * understood conjunct (no pruning); Some(empty) = provably no rows. */
  private[fits] def foldRuns(col: String,
      filters: Array[org.apache.spark.sql.sources.Filter])
      : Option[Vector[(Long, Long)]] = {
    import org.apache.spark.sql.sources._
    def asLong(v: Any): Option[Long] = v match {
      case n: java.lang.Number => Some(n.longValue())
      case _ => None
    }
    var acc: Option[Vector[(Long, Long)]] = None
    def add(runs: Vector[(Long, Long)]): Unit =
      acc = Some(acc.fold(runs)(RowRuns.intersect(_, runs)))
    filters.foreach {
      case In(`col`, vs) if vs.nonEmpty =>
        val xs = vs.flatMap(asLong)
        if (xs.length == vs.length) add(RowRuns.fromPoints(xs.toSeq))
      case EqualTo(`col`, v) => asLong(v).foreach(x =>
        add(if (x >= 0) Vector((x, x)) else Vector.empty))
      case GreaterThan(`col`, v) => asLong(v).foreach(x =>
        add(if (x < Long.MaxValue) Vector((math.max(0L, x + 1), Long.MaxValue))
          else Vector.empty))
      case GreaterThanOrEqual(`col`, v) => asLong(v).foreach(x =>
        add(Vector((math.max(0L, x), Long.MaxValue))))
      case LessThan(`col`, v) => asLong(v).foreach(x =>
        add(if (x > 0) Vector((0L, x - 1)) else Vector.empty))
      case LessThanOrEqual(`col`, v) => asLong(v).foreach(x =>
        add(if (x >= 0) Vector((0L, x)) else Vector.empty))
      case _ => () // unsupported shape: residual-only, no pruning
    }
    acc.map(RowRuns.cap(_))
  }
}

/** Value-domain data skipping over the writer's reserved GMINn/GMAXn
  * per-column min/max cards (FitsWriter emits them on every bintable
  * part; other readers ignore unknown keywords per FITS 4.0 §4.1.2.3).
  * A pushed comparison whose value range the stats PROVABLY exclude
  * drops the whole file from the plan — zero extra IO, the stats ride
  * the one header walk the planner already does. Conservative by
  * construction: absent, unparsable, or NaN-poisoned stats never skip,
  * and every filter stays residual, so this is an optimization with a
  * superset contract, never a correctness dependency.
  *
  * The reference has no predicate pushdown at all (SURVEY §4:
  * fixed-width rows ⇒ no row-group stats) — this is the writer-owned
  * lever it never had. */
private[fits] object FitsStats {
  import org.apache.spark.sql.sources._

  /** The single data column a skippable comparison references, if the
    * filter is a shape stats can evaluate. */
  def colOf(f: Filter): Option[String] = f match {
    case EqualTo(c, v) if isNum(v) => Some(c)
    case GreaterThan(c, v) if isNum(v) => Some(c)
    case GreaterThanOrEqual(c, v) if isNum(v) => Some(c)
    case LessThan(c, v) if isNum(v) => Some(c)
    case LessThanOrEqual(c, v) if isNum(v) => Some(c)
    case In(c, vs) if vs.nonEmpty && vs.forall(isNum) => Some(c)
    case _ => None
  }
  private def isNum(v: Any): Boolean = v.isInstanceOf[java.lang.Number]

  /** True iff the header's stats for 1-based physical column
    * `physIdx+1` prove `f` matches no row. BigDecimal domain: exact for
    * int64 stats at any magnitude AND for float stats (Double.toString
    * round-trips); NaN/Infinity text fails the parse and disables the
    * skip. */
  def excludes(f: Filter, h: core.FitsHeader, physIdx: Int): Boolean = {
    def bd(s: String): Option[BigDecimal] =
      scala.util.Try(BigDecimal(s.trim)).toOption
    def v(x: Any): Option[BigDecimal] = x match {
      // Float literals widen to DOUBLE first: the writer tracks float
      // columns in the widened-double domain (exact, order-preserving),
      // but Float.toString is the FLOAT's shortest representation —
      // "0.1f".toString = "0.1" parses to a BigDecimal BELOW the
      // stored 0.100000001490116…, and the comparison would "prove"
      // exclusion for a value that matches exactly in float domain
      case f: java.lang.Float => bd(f.doubleValue.toString)
      case n: java.lang.Number => bd(n.toString)
      case _ => None
    }
    val stats = for {
      mn <- h.values.get(s"GMIN${physIdx + 1}").flatMap(bd)
      mx <- h.values.get(s"GMAX${physIdx + 1}").flatMap(bd)
    } yield (mn, mx)
    stats.exists { case (mn, mx) =>
      f match {
        case EqualTo(_, x) => v(x).exists(q => q < mn || q > mx)
        case GreaterThan(_, x) => v(x).exists(q => mx <= q)
        case GreaterThanOrEqual(_, x) => v(x).exists(q => mx < q)
        case LessThan(_, x) => v(x).exists(q => mn >= q)
        case LessThanOrEqual(_, x) => v(x).exists(q => mn > q)
        case In(_, xs) =>
          xs.forall(x => v(x).exists(q => q < mn || q > mx))
        case _ => false
      }
    }
  }
}

/** Sorted-disjoint inclusive [lo, hi] run-list algebra for row/line
  * pruning. Runs are always a SUPERSET contract: a reader may emit
  * extra rows (the join/filter re-evaluates), never fewer. */
private[fits] object RowRuns {
  /** Planner cap: beyond this, closest runs merge — bounds the planned
    * partition count (and the per-scan metadata) no matter how many
    * distinct keys the build side hands over. 64 preserves the sparse
    * "N alert lines" shape while keeping task metadata trivial. */
  val MaxRuns = 64

  /** Distinct points → coalesced inclusive runs (adjacent ints merge).
    * Negative points are dropped: row/line indices start at 0. */
  def fromPoints(points: Seq[Long]): Vector[(Long, Long)] = {
    val xs = points.filter(_ >= 0).distinct.sorted
    val out = Vector.newBuilder[(Long, Long)]
    var i = 0
    while (i < xs.length) {
      val lo = xs(i)
      var hi = lo
      while (i + 1 < xs.length && xs(i + 1) == hi + 1) { i += 1; hi = xs(i) }
      out += ((lo, hi))
      i += 1
    }
    out.result()
  }

  /** Sort + merge overlapping/adjacent runs. */
  def coalesce(runs: Vector[(Long, Long)]): Vector[(Long, Long)] = {
    val sorted = runs.filter(r => r._2 >= r._1).sortBy(_._1)
    val out = Vector.newBuilder[(Long, Long)]
    var cur: Option[(Long, Long)] = None
    sorted.foreach { case (lo, hi) =>
      cur match {
        case Some((a, b)) if lo <= b + 1 || b == Long.MaxValue =>
          cur = Some((a, math.max(b, hi)))
        case Some(prev) => out += prev; cur = Some((lo, hi))
        case None => cur = Some((lo, hi))
      }
    }
    cur.foreach(out += _)
    out.result()
  }

  /** Intersection of two sorted-disjoint run lists (linear merge). */
  def intersect(a: Vector[(Long, Long)], b: Vector[(Long, Long)])
      : Vector[(Long, Long)] = {
    val out = Vector.newBuilder[(Long, Long)]
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val lo = math.max(a(i)._1, b(j)._1)
      val hi = math.min(a(i)._2, b(j)._2)
      if (lo <= hi) out += ((lo, hi))
      if (a(i)._2 < b(j)._2) i += 1 else j += 1
    }
    out.result()
  }

  /** Bounds the run count by merging the runs separated by the
    * SMALLEST gaps first — a correct superset that re-reads the fewest
    * skipped rows. Falls back toward the envelope as max shrinks. */
  def cap(runs: Vector[(Long, Long)], max: Int = MaxRuns)
      : Vector[(Long, Long)] = {
    if (runs.length <= max) runs
    else {
      // gaps between consecutive runs, largest kept: keep the max-1
      // largest gaps open, merge across the rest
      val gaps = runs.sliding(2).zipWithIndex.collect {
        case (Vector(a, b), idx) => (b._1 - a._2, idx)
      }.toVector.sortBy(-_._1).take(max - 1).map(_._2).toSet
      val out = Vector.newBuilder[(Long, Long)]
      var cur = runs.head
      runs.indices.drop(1).foreach { i =>
        if (gaps.contains(i - 1)) { out += cur; cur = runs(i) }
        else cur = (cur._1, runs(i)._2)
      }
      out += cur
      out.result()
    }
  }
}

object FitsAggScan {
  val KindCount = 0
  val KindMinIdx = 1
  val KindMaxIdx = 2
}

/** Metadata-only aggregates: one partial row per file, derived from
  * header metadata alone — COUNT(*) = NAXIS2, MIN(index) = 0,
  * MAX(index) = NAXIS2−1. Zero-row files are skipped entirely, so an
  * all-empty archive yields zero partitions and Spark's final
  * aggregate correctly returns count 0 / null extrema. */
final class FitsAggScan(res: FitsResolution, kinds: Array[Int])
    extends Scan with Batch with Logging {
  import FitsAggScan._
  override def readSchema(): StructType =
    StructType(kinds.zipWithIndex.map { case (k, i) =>
      org.apache.spark.sql.types.StructField(
        k match {
          case KindCount => "count(*)"
          case KindMinIdx => s"min_idx_$i"
          case _ => s"max_idx_$i"
        },
        org.apache.spark.sql.types.LongType, nullable = false)
    }.toSeq)
  override def toBatch: Batch = this
  override def description(): String =
    s"FITS ${res.pathSpec} hdu=${res.hduSpec} [metadata-only aggregate]"

  override def planInputPartitions(): Array[InputPartition] = {
    val firstSchema = res.inferredSchema
    res.fileHdus.toArray.flatMap { case (path, hdus) =>
      val idxs = res.hduIndicesFor(hdus)
      val missing = res.missingHduTokens(hdus)
      if (missing.nonEmpty && res.mode == "FAILFAST")
        throw new IllegalArgumentException(
          s"$path has no HDU ${missing.mkString(",")}")
      if (idxs.isEmpty) Seq.empty
      else idxs.flatMap { idx =>
        val meta = res.targetMetaAt(hdus, idx)
        // multi-HDU: non-data HDUs contribute no rows (see planFor)
        if (res.isMultiHdu && !(meta.isReadable && meta.rowBytes > 0)) None
        else if (meta.schema != firstSchema) {
          if (res.mode == "FAILFAST") throw new IllegalArgumentException(
            s"$path HDU $idx schema differs from first file's")
          None
        } else if (meta.nRows == 0 && kinds.exists(_ != KindCount))
          None // no rows: must not fabricate 0/−1 extrema
        else Some(FitsAggPartition(meta.nRows, kinds): InputPartition)
      }
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[org.apache.spark.sql.catalyst.InternalRow] =
        new PartitionReader[org.apache.spark.sql.catalyst.InternalRow] {
          private var done = false
          private val part = p.asInstanceOf[FitsAggPartition]
          override def next(): Boolean = !done
          override def get(): org.apache.spark.sql.catalyst.InternalRow = {
            done = true
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              part.kinds.map[Any] {
                case KindCount => part.nRows
                case KindMinIdx => 0L
                case _ => part.nRows - 1
              })
          }
          override def close(): Unit = ()
        }
    }
}

final case class FitsAggPartition(nRows: Long, kinds: Array[Int])
    extends InputPartition

final class FitsScan(res: FitsResolution, tableSchema: StructType,
    required: StructType, limit: Option[Long] = None,
    lineRange: Option[(Long, Long)] = None,
    metaCols: Array[String] = Array.empty,
    rowRange: Option[(Long, Long)] = None,
    valueFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering with Logging {

  /** True iff the file's target-HDU header stats prove a pushed value
    * predicate matches no row — the file drops from the plan entirely.
    * Binding is positional, like planFor: the filter's TABLE name maps
    * to a tableSchema position, then through the `columns` selection
    * (TTYPE-name keyed, per file) to the physical 1-based FITS column
    * the GMINn/GMAXn cards describe. */
  private def statsExclude(hdus: Vector[Hdu], idx: Int): Boolean =
    valueFilters.nonEmpty && (hdus(idx).meta match {
      case full: HduMeta.Bintable =>
        val header = hdus(idx).header
        valueFilters.exists { f =>
          FitsStats.colOf(f).exists { name =>
            val p = tableSchema.fieldIndex(name)
            val phys = res.columnsOption match {
              case Some(names) if p < names.length =>
                full.columns.indexWhere(_.name == names(p))
              case Some(_) => -1
              case None => p
            }
            phys >= 0 && phys < full.columns.length &&
              FitsStats.excludes(f, header, phys)
          }
        }
      case _ => false
    })

  /** (files skipped, data bytes skipped) by value-predicate stats in
    * the last partition plan — test/telemetry surface. */
  @volatile private[fits] var lastStatsSkip: (Int, Long) = (0, 0L)

  /** Runtime (DPP-style) pruning: a join whose key is the image
    * line-index column or `_row_index` hands this scan the build
    * side's value set at execution time, and the value set folds into
    * a SORTED RUN LIST (≤ [[RowRuns.MaxRuns]], closest runs merged
    * beyond that) that clamps the planned byte ranges exactly like a
    * static cutout — per run. Returning a superset of matching rows is
    * fine — the join re-evaluates equality — so runs (not the exact
    * set) are all the pruner needs. The "fetch these 50 alert lines
    * from a 100 GB exposure" pattern becomes ≤50 byte-ranged reads,
    * even when the lines span the whole file (the r16 envelope-only
    * fold degenerated to a full scan there). */
  private[fits] var runtimeRuns: Option[Vector[(Long, Long)]] = None
  /** (planned data bytes, total data bytes) of the last partition plan
    * — numRows × rowBytes per planned slice (for tile-compressed
    * images the row unit is the descriptor row, so this is a relative
    * pruning measure there, exact elsewhere). Test/telemetry surface
    * for the skipped-bytes accounting. */
  @volatile private[fits] var lastPlanSummary: Option[(Long, Long)] = None
  /** See [[FitsResolution.lineIndexColIn]] — shared with the builder. */
  private val imgLineCol: Option[String] = res.lineIndexColIn(tableSchema)
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    // only columns present in THIS scan's output — Spark resolves each
    // one against the relation and errors on absent names: the image
    // line column qualifies only if it survived pruning, _row_index
    // only if the query requested it (it is never shadowed there:
    // metaCols excludes data-shadowed names by construction)
    val img = imgLineCol.filter(required.fieldNames.contains)
    val metaIdx = metaCols.find(_ == FitsMetadata.RowIndex)
    (img.toSeq ++ metaIdx).map(
      org.apache.spark.sql.connector.expressions.Expressions.column).toArray
  }
  override def filter(filters: Array[org.apache.spark.sql.sources.Filter])
      : Unit = {
    val cols = filterAttributes().map(_.fieldNames().head)
    val folded = cols.flatMap(c => FitsScanBuilder.foldRuns(c, filters))
    // intersect everything that arrived (multiple runtime filters AND);
    // re-cap: intersecting two ≤64-run lists can yield up to 127 runs,
    // which would leak past the planner's partition/metadata bound
    runtimeRuns = (runtimeRuns.toSeq ++ folded)
      .reduceOption(RowRuns.intersect).map(RowRuns.cap(_))
  }

  /** The line/row runs this HDU's partitions clamp to: image HDUs
    * intersect the `ImgIndex` range with any `_row_index` range; every
    * other HDU type is prunable by `_row_index` alone. Runtime-filter
    * run lists intersect on top of the statically pushed ranges.
    * None = unconstrained; Some(empty) = provably zero rows. */
  private def runsFor(meta: HduMeta): Option[Vector[(Long, Long)]] = {
    val img = meta match {
      case _: HduMeta.Image | _: HduMeta.CompImage => lineRange
      case _ => None
    }
    val statics = Seq(img, rowRange).flatten
      .map(r => Vector(r).filter(x => x._2 >= x._1))
    (statics ++ runtimeRuns.toSeq).reduceOption(RowRuns.intersect)
  }

  /** Data columns first, then any requested metadata columns — Spark
    * re-projects to the query's order by name. */
  override def readSchema(): StructType =
    StructType(required.fields ++ metaCols.map(FitsMetadata.fieldFor))
  override def toBatch: Batch = this

  /** Exact row count and data size from HDU metadata (headers only, no
    * data bytes read) — with real statistics Catalyst's size-based join
    * planning works on FITS inputs: a small dimension table read from
    * FITS auto-broadcasts exactly like a parquet one would. The size is
    * scaled down to the pruned column fraction so projection-heavy
    * plans see the bytes they will actually move. */
  private lazy val stats: (Long, Long) = {
    // targetMeta (not raw meta): the `columns` option reorders/prunes
    // the column set that tableSchema's positions refer to. The walks
    // are the resolution's: one header walk per file per load(), shared
    // with planning and with every other scan of the same DataFrame.
    val metas = res.fileHdus
      .flatMap { case (_, hdus) =>
        res.hduIndicesFor(hdus)
          .filter(i => i >= 0 && i < hdus.length)
          // value-domain skip counts in the ESTIMATE too: a selective
          // predicate over a sorted archive must report the pruned
          // size, or Catalyst sizes joins as if every file scanned
          .filterNot(i => statsExclude(hdus, i))
          .map(i => res.targetMetaAt(hdus, i))
      }
      // schema-mismatched HDUs never plan (see planFor), so they must
      // not inflate the estimate either — and a mismatched bintable
      // could have fewer columns than the pruned positions index into
      .filter(m => m.isReadable && m.rowBytes > 0 &&
        m.schema == res.inferredSchema)
    // prune-aware row width, bound positionally like planFor (user
    // schemas rename columns) — computed PER FILE: heterogeneous unions
    // (e.g. differing string widths under PERMISSIVE) have different
    // row sizes, so a first-file-only width would misreport the total
    val positions = required.fieldNames.map(tableSchema.fieldIndex)
    def prunedRowBytes(m: HduMeta): Long = (m match {
      case b: HduMeta.Bintable =>
        positions.map(p => b.columns(p).tform.byteWidth).sum.max(1)
      case i: HduMeta.Image if res.colRange.isDefined =>
        // pushed column window: the scan moves only the window's bytes
        val (_, n) = DecodeSpec.window(res.colRange, i.lineElems)
        math.max(1, n * i.elem.width)
      case other => other.rowBytes
    }).toLong
    // a pushed limit caps the scan at the first `limit` rows in file
    // order (planFor stops planning once the limit is covered), so the
    // estimate walks files in the same order
    var remaining = limit.getOrElse(Long.MaxValue)
    var rows = 0L
    var bytes = 0L
    // a pushed line/row run list reads only its overlap with each HDU
    def rangedRows(m: HduMeta): Long = runsFor(m) match {
      case Some(runs) => runs.iterator.map { case (lo, hi) =>
        math.max(0L, math.min(m.nRows - 1, hi) - math.max(0L, lo) + 1)
      }.sum
      case None => m.nRows
    }
    metas.foreach { m =>
      val take = math.min(rangedRows(m), remaining)
      if (take > 0) {
        rows += take
        bytes += take * prunedRowBytes(m)
        remaining -= take
      }
    }
    (rows, bytes)
  }

  override def estimateStatistics(): Statistics = {
    val (rows, bytes) = stats
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  }
  override def description(): String =
    s"FITS ${res.pathSpec} hdu=${res.hduSpec} " +
      s"cols=${required.fieldNames.mkString(",")}" +
      limit.map(l => s" limit=$l").getOrElse("") +
      lineRange.map { case (lo, hi) => s" lines=[$lo,$hi]" }.getOrElse("") +
      rowRange.map { case (lo, hi) => s" rows=[$lo,$hi]" }.getOrElse("") +
      // runtime-filter visibility (r16 verdict ask #7): a scan pruned
      // at runtime is distinguishable in the UI/explain output from an
      // unpruned one — first runs shown, remainder counted
      runtimeRuns.map { rs =>
        val shown = rs.take(8).map { case (a, b) => s"[$a,$b]" }.mkString(",")
        val more = if (rs.length > 8) s"+${rs.length - 8} more" else ""
        s" runtimeRuns=$shown$more"
      }.getOrElse("") +
      (if (valueFilters.nonEmpty)
        s" statsFilters=${valueFilters.mkString(",")}" else "")

  override def planInputPartitions(): Array[InputPartition] =
    planFor(res.fileHdus)

  /** Plans row-aligned partitions for walked files — shared by the
    * batch path (the resolution's files and walks) and the micro-batch
    * stream (only the files new to the current batch, walked per batch
    * and not kept, so a long-running stream holds no headers of files
    * it has finished). */
  private[fits] def planFor(fileMetas: Seq[(Path, Vector[Hdu])])
      : Array[InputPartition] = {
    val session = SparkSession.active
    val conf = session.sessionState.conf
    // Positional pruning: user-supplied schemas rename columns, so map
    // required fields to positions in the table schema, then to FITS
    // columns (the reference binds user schemas positionally too).
    val positions: Array[Int] =
      required.fieldNames.map(n => tableSchema.fieldIndex(n))

    // `fileMetas` are driver-side header walks, a few KB of reads per
    // file. The reference re-walks every file inside every task instead
    // (FitsLib.scala:181-202).
    val firstSchema = res.inferredSchema
    // Same split sizing as Spark's own file sources: honor
    // maxPartitionBytes, but split smaller files further so the scan
    // can still use the cluster's default parallelism.
    var statsSkipFiles = 0
    var statsSkipBytes = 0L
    val readable = fileMetas.flatMap { case (path, hdus) =>
      val idxs = res.hduIndicesFor(hdus)
      // EVERY unresolved token reports through the mode — a list
      // "1,9" with only HDU 1 present must FAILFAST like a bare "9"
      // would, not silently return HDU 1's rows
      val missing = res.missingHduTokens(hdus)
      if (missing.nonEmpty)
        failOrWarn(s"$path has no HDU ${missing.mkString(",")}; skipping")
      if (idxs.isEmpty) {
        if (res.isAllHdu)
          failOrWarn(s"$path has no readable HDU; skipping")
        Seq.empty
      } else idxs.flatMap { idx =>
        val meta = res.targetMetaAt(hdus, idx)
        // multi-HDU union: non-data HDUs (the MEF primary under `all`)
        // skip silently; a READABLE HDU whose schema differs is a real
        // union conflict and goes through the mode handling below
        if (res.isMultiHdu &&
          !(meta.isReadable && meta.nRows > 0 && meta.rowBytes > 0)) None
        else if (meta.schema != firstSchema) {
          failOrWarn(s"$path HDU $idx schema ${meta.schema.simpleString} " +
            s"differs from first file's ${firstSchema.simpleString}; skipping")
          None
        } else if (meta.isReadable && meta.nRows > 0 && meta.rowBytes > 0) {
          if (statsExclude(hdus, idx)) {
            // value-domain skip: header stats prove no row matches
            statsSkipFiles += 1
            statsSkipBytes += hdus(idx).bounds.dataBytes
            None
          } else Some((path, hdus(idx).bounds, meta, idx))
        } else None
      }
    }
    lastStatsSkip = (statsSkipFiles, statsSkipBytes)
    if (statsSkipFiles > 0)
      logInfo(s"FITS stats skipping: dropped $statsSkipFiles files " +
        s"($statsSkipBytes data bytes) on GMIN/GMAX value predicates")
    // skipped files still count in the total so the planned/total
    // accounting below reflects the value-domain pruning too
    val totalBytes = readable.map { case (_, b, _, _) => b.dataBytes }.sum +
      statsSkipBytes
    val minParts = math.max(1,
      conf.filesMinPartitionNum
        .getOrElse(session.sparkContext.defaultParallelism))
    val targetBytes = math.min(conf.filesMaxPartitionBytes,
      math.max(conf.filesOpenCostInBytes, totalBytes / minParts))
    val parts = Array.newBuilder[InputPartition]
    var remaining = limit.getOrElse(Long.MaxValue)
    readable.iterator.takeWhile(_ => remaining > 0)
      .foreach { case (path, bounds, meta, idx) =>
        val sliced = slice(path, bounds, meta, positions, targetBytes, idx)
        sliced.iterator.takeWhile(_ => remaining > 0).foreach { p =>
          val take = math.min(p.numRows, remaining)
          parts += (if (take == p.numRows) p else p.copy(numRows = take))
          remaining -= take
        }
      }
    val out = parts.result()
    // skipped-bytes accounting for pruned plans: planned vs total data
    // bytes, recorded for tests/telemetry and logged whenever a
    // runtime run list actually clamped the scan
    val plannedBytes = out.iterator.collect {
      case p: FitsInputPartition => p.numRows * (p.spec match {
        // strided-window image IO moves only the window's bytes
        case img: DecodeSpec.Image if img.ioWindow => img.windowBytes.toLong
        case _ => p.rowBytes.toLong
      })
    }.sum
    lastPlanSummary = Some((plannedBytes, totalBytes))
    if (runtimeRuns.nonEmpty)
      logInfo(s"FITS runtime pruning: planned $plannedBytes of " +
        s"$totalBytes data bytes (${out.length} partitions, " +
        s"${runtimeRuns.map(_.length).getOrElse(0)} runs)")
    if (res.verbose) {
      // reference parity (A18): file list + target-HDU header dump
      logInfo(s"FITS files (${res.files.length}): " +
        res.files.take(20).mkString(", ") +
        (if (res.files.length > 20) ", ..." else ""))
      res.firstFileHdus.lift(res.hduIndex).foreach { h =>
        logInfo(s"HDU ${res.hduIndex} header:\n" + h.header.cards
          .map(c => s"  ${c.keyword} = ${c.value.getOrElse("")}" +
            c.comment.map(" / " + _).getOrElse("")).mkString("\n"))
      }
      logInfo(s"FITS scan: ${out.length} partitions over " +
        s"${res.files.length} files")
    }
    out
  }

  private def failOrWarn(msg: String): Unit =
    if (res.mode == "FAILFAST") throw new IllegalArgumentException(msg)
    else logWarning(msg)

  /** Row-aligned byte slices of one HDU, ≤ maxPartitionBytes each —
    * planned on the driver so readers never see torn rows and no task is
    * ever planned outside the HDU extent.
    *
    * Tile-compressed images slice by IMAGE LINE (the emitted row unit),
    * aligned to whole tile-row bands, and sized by DECODED line bytes:
    * sizing by the 8-16-byte descriptor rows would pack the payload of
    * a 100 GB compressed image into one task. `startByte` points at the
    * first band's descriptor row; `numRows`/`firstRowIndex` count
    * lines. */
  private def slice(path: Path, bounds: HduBounds, meta: HduMeta,
      positions: Array[Int], maxPartBytes: Long,
      hduIdx: Int): Seq[FitsInputPartition] = {
    val rowBytes = meta.rowBytes
    val spec = DecodeSpec.of(meta, positions, res.colRange)
    val metaKinds = metaCols.map(FitsMetadata.kindOf)
    meta match {
      case c: HduMeta.CompImage =>
        val lineBytes = math.max(1L, c.lineElems.toLong * c.elem.width)
        val aligned = math.max(1L, maxPartBytes / lineBytes) /
          c.tileH * c.tileH
        val linesPerPart = math.max(c.tileH.toLong, aligned)
        val bandRowBytes = c.nTileCols.toLong * rowBytes
        // Pushed line runs, each widened to whole tile-row bands so
        // every partition keeps the planner's invariant (starts at a
        // band's descriptor row, ends at a band boundary or the image
        // end); the residual filter drops the few band-edge lines.
        // Widened runs that land in the same band COALESCE, so no band
        // is ever planned twice (duplicate rows would break the join).
        val runs: Vector[(Long, Long)] = runsFor(meta) match {
          case None => if (c.nLines > 0) Vector((0L, c.nLines - 1)) else Vector.empty
          case Some(rs) => RowRuns.coalesce(rs.flatMap { case (lo, hi) =>
            if (hi < math.max(0L, lo) || c.nLines == 0 ||
              math.max(0L, lo) >= c.nLines) None
            else {
              val s = math.min(c.nLines - 1, math.max(0L, lo) / c.tileH * c.tileH)
              // clamp BEFORE widening: an unbounded `>= x` run carries
              // hi = Long.MaxValue, and (hi/tileH + 1) * tileH wraps
              // negative for any tileH not dividing 2^63 — the run
              // would vanish and the scan plan zero partitions
              val hiC = math.min(hi, c.nLines - 1)
              val e = math.min(c.nLines - 1, (hiC / c.tileH + 1) * c.tileH - 1)
              if (e >= s) Some((s, e)) else None
            }
          })
        }
        runs.flatMap { case (rLo, rHiInc) =>
          val end = rHiInc + 1
          (rLo until end by linesPerPart).map { firstLine =>
            val n = math.min(linesPerPart, end - firstLine)
            FitsInputPartition(
              path.toString,
              bounds.dataStart + firstLine / c.tileH * bandRowBytes,
              n, firstLine, rowBytes,
              res.recordLength.getOrElse(4 << 20), spec, hduIdx, metaKinds)
          }
        }
      case _ =>
        // Heap-backed tables (surviving P/Q columns) weigh each row by
        // the HDU's TOTAL bytes (row area + heap) amortized per row —
        // sizing by the 8-16-byte descriptor stride alone would pack a
        // 100 GB document heap into a handful of tasks (same failure
        // mode the CompImage branch above guards against).
        val hasHeap = spec match {
          case DecodeSpec.Bintable(_, h) => h >= 0
          case _ => false
        }
        val effRowBytes = spec match {
          // strided window IO reads only windowBytes per line, so size
          // partitions by what a task will actually read — the planner
          // and reader decide ioWindow from the SAME spec
          case img: DecodeSpec.Image if img.ioWindow =>
            img.windowBytes.toLong
          case _ =>
            if (hasHeap && meta.nRows > 0)
              math.max(rowBytes.toLong, bounds.dataBytes / meta.nRows)
            else rowBytes.toLong
        }
        val rowsPerPart = math.max(1L, maxPartBytes / effRowBytes)
        // Pushed line/row runs — rows are fixed width here (the row
        // area of a heap-backed table included), so each run's clamp
        // is exact: plan bytes for its [lo, hi] alone. `ImgIndex`
        // ranges only ever bind to image HDUs; `_row_index` ranges
        // reach any type. Runs are sorted-disjoint by construction, so
        // partitions never overlap (no duplicate rows).
        val runs: Vector[(Long, Long)] = runsFor(meta) match {
          case None =>
            if (meta.nRows > 0) Vector((0L, meta.nRows - 1)) else Vector.empty
          case Some(rs) => rs
        }
        runs.flatMap { case (lo, hi) =>
          val start = math.min(meta.nRows, math.max(0L, lo))
          val end =
            if (hi < start) start
            else if (hi >= meta.nRows - 1) meta.nRows
            else hi + 1
          (start until end by rowsPerPart).map { firstRow =>
            val n = math.min(rowsPerPart, end - firstRow)
            FitsInputPartition(
              path.toString,
              bounds.dataStart + firstRow * rowBytes,
              n, firstRow, rowBytes,
              res.recordLength.getOrElse(4 << 20), spec, hduIdx, metaKinds)
          }
        }
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // ship the driver's Hadoop conf (object-store credentials, FS
    // settings) to executor readers — a bare `new Configuration()`
    // would silently drop them on a real cluster
    new FitsPartitionReaderFactory(FitsFiles.shipConf(res.hadoopConf))
  }

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    // Streaming builds the scan with NO pruneColumns call, and when a
    // query references ANY metadata column the analyzer appends ALL of
    // them to the relation output (AddMetadataColumns →
    // withMetadataColumns appends the full metadataOutput, declaration
    // order). So the streaming scan emits data + every metadata column
    // unconditionally: that positionally matches both output shapes —
    // when none were requested the trailing vectors are simply never
    // read (batch columns are accessed by output position only), and
    // the cost is three near-free vectors per batch.
    val withMeta = new FitsScan(res, tableSchema, required, limit,
      lineRange, FitsMetadata.columnsFor(tableSchema).map(_.name()),
      rowRange)
    new FitsMicroBatchStream(withMeta, res)
  }
}

/** Offset of the FITS micro-batch stream: the set of files already
  * processed, as a sorted JSON list. Self-describing, so restarts
  * recover exactly-once semantics from the checkpointed offset alone —
  * no reliance on listing order or modification times (Spark's own
  * file source keeps a separate compacted file log for the same
  * reason; at this source's scale the offset IS the log). */
final case class FitsStreamOffset(files: Seq[String])
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = {
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    org.json4s.jackson.Serialization.write(files.sorted)
  }
}

/** Micro-batch streaming over an append-only directory of FITS files
  * (`spark.readStream.format("fits")`): each batch reads exactly the
  * files not yet committed, planned with the SAME driver-side
  * row-aligned partitioner as the batch path. The reference has no
  * streaming surface at all — this is the alert-stream ingestion shape
  * (new exposures land as files; downstream watermarked aggregations
  * consume them incrementally).
  *
  * Assumes files are immutable once visible (the standard file-stream
  * contract); deletions after commit are fine. */
final class FitsMicroBatchStream(scan: FitsScan, res: FitsResolution)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow
    with Logging {
  import org.apache.spark.sql.connector.read.streaming.{
    Offset => StreamOffset, ReadLimit, ReadMaxFiles}

  override def initialOffset(): StreamOffset = FitsStreamOffset(Nil)

  private def allFiles(): Seq[String] =
    (try FitsFiles.resolve(res.pathSpec, res.hadoopConf).map(_.toString)
    catch { case _: IllegalArgumentException => Nil }).sorted // empty dir (yet)

  /** AvailableNow contract: batches stop at the file set that existed
    * when the trigger fired, even if more files keep landing. */
  @volatile private var availableNowTarget: Option[Set[String]] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(allFiles().toSet)

  /** `maxFilesPerTrigger` bounds each micro-batch — a 10k-file backlog
    * drains as many bounded batches instead of one giant one (Spark's
    * own file source contract; AvailableNow still processes everything,
    * just in capped steps). */
  override def getDefaultReadLimit: ReadLimit =
    res.maxFilesPerTrigger.map(n => ReadLimit.maxFiles(n))
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: StreamOffset, limit: ReadLimit)
      : StreamOffset = {
    val seen = start.asInstanceOf[FitsStreamOffset].files.toSet
    val visible = availableNowTarget match {
      case Some(target) => allFiles().filter(target)
      case None => allFiles()
    }
    val fresh = visible.filterNot(seen)
    val admitted = limit match {
      case mf: ReadMaxFiles => fresh.take(mf.maxFiles())
      case _ => fresh
    }
    FitsStreamOffset((seen ++ admitted).toSeq.sorted)
  }

  override def reportLatestOffset(): StreamOffset =
    FitsStreamOffset(allFiles())

  override def latestOffset(): StreamOffset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  override def deserializeOffset(json: String): StreamOffset = {
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    FitsStreamOffset(org.json4s.jackson.Serialization.read[Seq[String]](json))
  }

  override def planInputPartitions(start: StreamOffset,
      end: StreamOffset): Array[InputPartition] = {
    val seen = start.asInstanceOf[FitsStreamOffset].files.toSet
    val fresh = end.asInstanceOf[FitsStreamOffset].files
      .filterNot(seen).sorted.map(new Path(_))
    if (fresh.isEmpty) Array.empty
    else scan.planFor(res.scanFiles(fresh))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    scan.createReaderFactory()

  override def commit(end: StreamOffset): Unit = () // files are immutable
  override def stop(): Unit = ()
}

/** What an executor needs to decode its slice — fully serialized, no
  * driver callbacks, no Hadoop-conf metadata channel (obsoletes the
  * reference's registerHeader/retrieveHeader, FitsLib.scala:608-629). */
sealed trait DecodeSpec extends Serializable
object DecodeSpec {
  /** Bintable: pruned columns in output order. `heapStart` = absolute
    * file offset of the variable-length heap (−1 when no P/Q column
    * survives pruning — readers then never touch the heap). */
  final case class Bintable(cols: Array[BintableColumn],
      heapStart: Long = -1L) extends DecodeSpec
  /** Image: which of (Image, ImgIndex) to emit, in output order.
    * fieldKinds(i): 0 = Image array, 1 = ImgIndex. `colLo`/`colN` are
    * the pushed pixel-column window (0/lineElems when none): emitted
    * arrays hold only those elements. `ioWindow` = the per-line byte
    * savings justify strided positioned reads (one pread per line
    * instead of one per chunk), decided HERE so the planner and the
    * reader size partitions and buffers consistently. */
  final case class Image(elem: ElemType, lineElems: Int,
      fieldKinds: Array[Int], colLo: Int, colN: Int,
      ioWindow: Boolean) extends DecodeSpec {
    def windowBytes: Int = math.max(1, colN * elem.width)
  }
  /** Tile-compressed image: the full [[HduMeta.CompImage]] (codec
    * params + descriptor-column layout) plus Image-style fieldKinds
    * and the pushed pixel-column window — only tiles intersecting
    * [colLo, colLo+colN) decompress. */
  final case class CompImage(meta: HduMeta.CompImage,
      fieldKinds: Array[Int], colLo: Int, colN: Int) extends DecodeSpec

  /** Clamps a pushed column window to the line width. */
  private[fits] def window(colRange: Option[(Int, Int)],
      lineElems: Int): (Int, Int) = colRange match {
    case Some((lo, hi)) =>
      val l = math.min(lo, lineElems)
      val h = math.min(hi, lineElems - 1)
      (l, math.max(0, h - l + 1))
    case None => (0, lineElems)
  }

  /** Strided reads pay one positioned read per LINE; worth it only
    * when each line skips enough bytes to beat sequential throughput
    * (~32 KB of skipped bytes per line ≈ a seek's worth on local
    * disk, far more conservative than an object store's). */
  private[fits] val IoWindowMinSkip = 32 * 1024

  def of(meta: HduMeta, positions: Array[Int],
      colRange: Option[(Int, Int)] = None): DecodeSpec = meta match {
    case b: HduMeta.Bintable =>
      val picked = positions.map(b.columns)
      Bintable(picked,
        if (picked.exists(_.tform.isInstanceOf[TForm.VarArr])) b.heapStart
        else -1L)
    case i: HduMeta.Image =>
      val (lo, n) = window(colRange, i.lineElems)
      val skipped = (i.lineElems - n).toLong * i.elem.width
      // n == 0 (window entirely past the line) must NOT engage strided
      // IO: winOffBytes would point at the line END and the 1-byte
      // pread of the last line can EOF on a padding-free HDU — the
      // full-line path decodes nothing and is already correct
      Image(i.elem, i.lineElems, positions, lo, n,
        colRange.isDefined && n > 0 && skipped >= IoWindowMinSkip)
    case c: HduMeta.CompImage =>
      val (lo, n) = window(colRange, c.lineElems)
      CompImage(c, positions, lo, n)
    case HduMeta.Opaque =>
      Bintable(Array.empty)
  }
}

final case class FitsInputPartition(
    file: String,
    startByte: Long,
    numRows: Long,
    firstRowIndex: Long,
    rowBytes: Int,
    bufferBytes: Int,
    spec: DecodeSpec,
    hduIndex: Int = 0,
    metaKinds: Array[Int] = Array.empty) extends InputPartition

final class FitsPartitionReaderFactory(confProps: Array[(String, String)])
    extends PartitionReaderFactory {

  @transient private lazy val hadoopConf: Configuration =
    FitsFiles.taskConf(confProps)

  override def createReader(p: InputPartition): PartitionReader[org.apache.spark.sql.catalyst.InternalRow] = {
    val fp = p.asInstanceOf[FitsInputPartition]
    val inner = new FitsPartitionReader(fp, hadoopConf)
    if (fp.metaKinds.isEmpty) inner
    else new FitsMetadata.RowReader(inner, fp)
  }

  /** Everything except TDIM (nested-array) columns reads vectorized
    * (ColumnarBatch → the same ColumnarToRow path as Spark's parquet
    * reader): fixed-width scalars, strings, fixed-repeat vectors, bit
    * fields, TNULL scalars AND vectors, variable-length P/Q columns,
    * TSCAL/TZERO/BSCALE-scaled data (unboxed via ScaledElem's
    * primitive-typed decoders), image HDUs, and tile-compressed
    * images. TDIM columns take the boxed row path — nested ArrayData
    * assembly has no vectorized fill and multi-dim columns are rare
    * enough that per-scan fallback is the right trade. The spec is
    * identical across one scan's partitions, so the answer is
    * scan-consistent. */
  override def supportColumnarReads(p: InputPartition): Boolean = p match {
    case f: FitsInputPartition => f.spec match {
      // every bintable column form decodes vectorized: fixed-width,
      // strings, fixed vectors, scaled, ASCII text, TNULL scalars AND
      // vectors, bit fields, and var-length columns (through the
      // coalesced heap window, strings byte-exact via putByteArray)
      case DecodeSpec.Bintable(cols, _) =>
        cols.nonEmpty && !cols.exists(_.tform.isInstanceOf[TForm.Md])
      case _: DecodeSpec.Image => true
      // tiles decompress per row, then fill vectors directly — the
      // boxed Seq[Row] path cost ~3× on wide compressed images
      case _: DecodeSpec.CompImage => true
    }
    case _ => false
  }

  override def createColumnarReader(p: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val fp = p.asInstanceOf[FitsInputPartition]
    val inner = new FitsColumnarReader(fp, hadoopConf)
    if (fp.metaKinds.isEmpty) inner
    else new FitsMetadata.BatchReader(inner, fp)
  }
}
