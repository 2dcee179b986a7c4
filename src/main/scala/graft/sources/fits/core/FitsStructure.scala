package graft.sources.fits.core

import org.apache.hadoop.fs.{FSDataInputStream, FileSystem, Path}
import org.apache.spark.sql.types._

/** Byte extents of one HDU: [headerStart, dataStart) header blocks,
  * [dataStart, dataStop) payload, blockStop = dataStart + padded size
  * (reference model: FitsBlockBoundaries, FitsLib.scala:65-91). */
final case class HduBounds(
    headerStart: Long, dataStart: Long, dataStop: Long, blockStop: Long) {
  def dataBytes: Long = dataStop - dataStart
}

/** One column of a binary table with its byte offset inside the row. */
final case class BintableColumn(name: String, tform: TForm, offset: Int) {
  def field: StructField = StructField(name, tform.sparkType, nullable = true)
}

/** What an HDU is, with everything needed to read it — computed once on
  * the driver and shipped to executors inside InputPartitions (the
  * reference instead stringifies metadata into the Hadoop conf and
  * re-walks files per task, FitsLib.scala:608-629 — an O(files) cost we
  * avoid by design). */
sealed trait HduMeta {
  /** bytes of one table row (0 for empty HDUs) */
  def rowBytes: Int
  def nRows: Long
  def schema: StructType
  def isReadable: Boolean
}

object HduMeta {
  /** `heapStart` is the ABSOLUTE file offset of the variable-length
    * heap (−1 when the table has no P/Q columns); filled in by
    * [[FitsStructure.scan]] once the HDU's data start is known. */
  final case class Bintable(
      rowBytes: Int, nRows: Long, columns: Vector[BintableColumn],
      heapStart: Long = -1L)
      extends HduMeta {
    def hasVarCols: Boolean =
      columns.exists(_.tform.isInstanceOf[TForm.VarArr])
    /** Truncated-heap fallback: var-length columns decode as NULL
      * (schema-stable — the column stays in the StructType) instead of
      * executors dying on EOF preads into a missing heap tail. */
    def degradeVarCols: Bintable = copy(columns = columns.map { c =>
      c.tform match {
        case v: TForm.VarArr if !v.degraded =>
          c.copy(tform = v.copy(degraded = true))
        case _ => c
      }
    })
    def schema: StructType = StructType(columns.map(_.field))
    def isReadable: Boolean = true
    /** Projection in user order; unknown names throw like the reference
      * (FitsHduBintable.scala:315-321). */
    def select(names: Seq[String]): Bintable = {
      val byName = columns.map(c => c.name -> c).toMap
      val picked = names.map { n =>
        byName.getOrElse(n, throw new IllegalArgumentException(
          s"Column '$n' does not exist in the FITS table; " +
            s"available: ${columns.map(_.name).mkString(", ")}"))
      }
      copy(columns = picked.toVector)
    }
  }

  /** N-d image surfaced as one row per image line: (Image: Array[elem],
    * ImgIndex: Long) — reference shape FitsHduImage.scala:128-136. */
  final case class Image(elem: ElemType, axes: Vector[Long]) extends HduMeta {
    def lineElems: Int = if (axes.isEmpty) 0 else axes.head.toInt
    def rowBytes: Int = lineElems * elem.width
    def nRows: Long =
      if (axes.isEmpty || axes.head == 0) 0L else axes.product / axes.head
    def schema: StructType = StructType(Seq(
      StructField("Image", ArrayType(elem.sparkType, containsNull = true),
        nullable = true),
      StructField("ImgIndex", LongType, nullable = true)))
    def isReadable: Boolean = nRows > 0
  }

  /** Tile-compressed image (FITS Tiled Image Compression convention —
    * `fpack` output, ZIMAGE=T bintables; beyond reference, which would
    * surface the raw descriptor table). Supported envelope: row tiles
    * (ZTILE1 = ZNAXIS1, other ZTILEn = 1 — the fpack default), codecs
    * in [[TileCodec.Supported]], lossless only. One bintable row = one
    * tile = one image line, so the surface, partitioning and row
    * alignment are identical to [[Image]]: (Image: Array[elem],
    * ImgIndex: Long), one row per line.
    *
    * `cdOffset`/`gzOffset`/`ucOffset` are row offsets of the
    * COMPRESSED_DATA descriptor and the optional per-tile fallback
    * columns GZIP_COMPRESSED_DATA / UNCOMPRESSED_DATA (−1 if absent —
    * a zero-length COMPRESSED_DATA descriptor means the tile's payload
    * lives in a fallback column instead). */
  /** Quantized-float reconstruction parameters: stored tile codes are
    * int32; physical = scale·code + zero (NO_DITHER) or
    * scale·(code − rand + 0.5) + zero (SUBTRACTIVE_DITHER_1/2, with
    * the convention's verified Park–Miller sequence — [[FitsDither]]);
    * per-tile scale/zero when the ZSCALE/ZZERO table columns exist
    * (offsets ≥ 0), else the header keywords. A code equal to `blank`
    * (ZBLANK) reads as SQL NULL; under DITHER_2 the ZeroVal sentinel
    * restores exact 0.0. `dither` is 0/1/2; `ditherSeed` is ZDITHER0. */
  final case class Quant(scaleOff: Int, zeroOff: Int,
      scale: Double, zero: Double, blankOff: Int, blank: Option[Long],
      dither: Int = 0, ditherSeed: Int = 0)

  final case class CompImage(
      elem: ElemType, axes: Vector[Long],
      cmpType: String, bytepix: Int, blocksize: Int,
      tableRowBytes: Int, nTiles: Long,
      cd: (Int, TForm.VarArr),
      gz: Option[(Int, TForm.VarArr)],
      uc: Option[(Int, TForm.VarArr)],
      heapStart: Long = -1L,
      tileW: Int = 0, tileH: Int = 1,
      quant: Option[Quant] = None,
      hsmooth: Boolean = false) extends HduMeta {
    def lineElems: Int = if (axes.isEmpty) 0 else axes.head.toInt
    /** effective tile width: 0 in `tileW` means whole-line tiles (the
      * row-tiled layout every writer here produces) */
    def tileWidth: Int = if (tileW <= 0) lineElems else tileW
    /** tiles per tile-row band */
    def nTileCols: Int =
      if (lineElems == 0) 1
      else (lineElems + tileWidth - 1) / tileWidth
    /** image lines (DF rows; tile-table rows are `nTiles`) */
    def nLines: Long =
      if (axes.isEmpty || axes.head == 0L) 0L
      else axes.product / axes.head
    def rowBytes: Int = tableRowBytes
    def nRows: Long = nLines
    def schema: StructType = StructType(Seq(
      StructField("Image", ArrayType(elem.sparkType, containsNull = true),
        nullable = true),
      StructField("ImgIndex", LongType, nullable = true)))
    def isReadable: Boolean = nTiles > 0 && lineElems > 0
    /** columns whose heap spans a chunk reader should coalesce */
    def heapCols: Seq[(Int, TForm.VarArr)] = Seq(cd) ++ gz ++ uc
  }

  /** Empty / unrecognized HDUs: an empty DataFrame with an empty schema
    * (reference: AnyHDU, FitsHdu.scala:242-267 — which also treats
    * ASCII TABLEs this way; we decode those for real, see
    * [[FitsStructure.asciiTableMeta]]). */
  case object Opaque extends HduMeta {
    def rowBytes: Int = 0
    def nRows: Long = 0L
    def schema: StructType = StructType(Nil)
    def isReadable: Boolean = false
  }
}

/** One fully-resolved HDU. */
final case class Hdu(index: Int, header: FitsHeader, bounds: HduBounds,
    meta: HduMeta)

/** Driver-side structural scan of a FITS file: walks headers, computes
  * boundaries, resolves each HDU's metadata. All IO is positioned reads
  * (pread) — stateless and object-store friendly.
  */
object FitsStructure {
  import FitsHeader.{BlockSize, CardSize}

  /** Max header size we will scan before declaring the file corrupt
    * (a missing END card would otherwise walk to EOF). */
  private val MaxHeaderBlocks = 1000

  def scan(fs: FileSystem, path: Path): Vector[Hdu] = {
    val len = fs.getFileStatus(path).getLen
    val in = fs.open(path)
    try {
      val hdus = Vector.newBuilder[Hdu]
      var pos = 0L
      var index = 0
      while (pos + BlockSize <= len) {
        val (header, headerBytes) = readHeader(in, pos, len, path)
        val dataStart = pos + headerBytes
        val dataLen = dataLength(header)
        val dataStop = dataStart + dataLen
        val blockStop = dataStart + padTo(dataLen, BlockSize)
        val bounds = HduBounds(pos, dataStart, dataStop, blockStop)
        var meta = resolveMeta(index, header) match {
          // var-length tables: resolve the heap's absolute offset now
          // that the data start is known (THEAP default = main table
          // size, FITS 4.0 §7.3.5)
          case b: HduMeta.Bintable if b.hasVarCols =>
            b.copy(heapStart = dataStart +
              header.longOr("THEAP", b.rowBytes.toLong * b.nRows))
          case c: HduMeta.CompImage =>
            c.copy(heapStart = dataStart +
              header.longOr("THEAP", c.tableRowBytes.toLong * c.nTiles))
          case m => m
        }
        if (dataStop > len) {
          // Truncated file: clamp to whole MAIN-TABLE rows present
          // instead of letting executors die on EOF mid-read. Note
          // clampRows caps at the declared nRows, so PCOUNT heap bytes
          // in the remainder never inflate the row count.
          meta =
            if (meta.rowBytes > 0)
              clampRows(meta, math.max(0L, (len - dataStart) / meta.rowBytes))
            else HduMeta.Opaque
        }
        // A bintable whose heap extent runs past EOF (file truncated
        // mid-heap, or a pathological THEAP): var-length preads would
        // EOF on executors, so degrade those columns to NULL.
        // The true heap end is dataStart + rowBytes·nRows + PCOUNT:
        // PCOUNT already covers the THEAP gap plus the heap (FITS 4.0
        // §7.3.5), so `heapStart + PCOUNT` would double-count the gap
        // and flag valid files with a nontrivial THEAP as truncated.
        // A THEAP pointing past EOF itself is equally unreadable, so
        // both bounds must fit.
        meta = meta match {
          case b: HduMeta.Bintable if b.hasVarCols && {
            val trueHeapEnd = dataStart +
              b.rowBytes.toLong * b.nRows + header.longOr("PCOUNT", 0L)
            math.max(b.heapStart, trueHeapEnd) > len
          } => b.degradeVarCols
          case c: HduMeta.CompImage if {
            val trueHeapEnd = dataStart +
              c.tableRowBytes.toLong * c.nTiles + header.longOr("PCOUNT", 0L)
            math.max(c.heapStart, trueHeapEnd) > len
          } => HduMeta.Opaque // all tile payloads live in the heap
          case m => m
        }
        hdus += Hdu(index, header,
          if (dataStop > len) bounds.copy(dataStop = len, blockStop = len)
          else bounds,
          meta)
        pos = blockStop
        index += 1
      }
      hdus.result()
    } finally in.close()
  }

  /** Reads header blocks at `pos`, one block at a time, until the block
    * holding the END card; returns the parsed header and its padded
    * byte size. Each block is read once and only the new block is
    * searched, so a header costs its own size in I/O, and a header with
    * no END fails after reading at most [[MaxHeaderBlocks]] blocks. */
  private def readHeader(in: FSDataInputStream, pos: Long, fileLen: Long,
      path: Path): (FitsHeader, Long) = {
    var buf = new Array[Byte](BlockSize)
    var size = 0
    while (size < MaxHeaderBlocks * BlockSize) {
      if (pos + size + BlockSize > fileLen)
        throw new IllegalArgumentException(
          s"$path: header at byte $pos runs past EOF without an END card " +
            "— not a valid FITS file")
      if (size == buf.length) buf = java.util.Arrays.copyOf(buf, size * 2)
      in.readFully(pos + size, buf, size, BlockSize)
      size += BlockSize
      if (containsEnd(buf, size - BlockSize, size)) {
        val raw = if (size == buf.length) buf
          else java.util.Arrays.copyOf(buf, size)
        return (FitsHeader.parse(raw), size.toLong)
      }
    }
    throw new IllegalArgumentException(
      s"$path: no END card within $MaxHeaderBlocks header blocks at byte $pos")
  }

  /** True iff a card in `buf[from, until)` is END followed by blanks. */
  private def containsEnd(buf: Array[Byte], from: Int, until: Int): Boolean = {
    var i = from
    while (i + CardSize <= until) {
      if (buf(i) == 'E' && buf(i + 1) == 'N' && buf(i + 2) == 'D' &&
        (CardSize == 3 || isBlank(buf, i + 3, i + CardSize))) return true
      i += CardSize
    }
    false
  }

  private def isBlank(buf: Array[Byte], from: Int, until: Int): Boolean = {
    var i = from
    while (i < until) { if (buf(i) != ' '.toByte) return false; i += 1 }
    true
  }

  /** data bytes = |BITPIX|/8 × ∏NAXISn (+ PCOUNT heap bytes, so the walk
    * stays aligned on files with variable-length heaps even though we
    * don't decode them). */
  private def dataLength(h: FitsHeader): Long = {
    val axes = h.axes
    val main =
      if (axes.isEmpty || axes.contains(0L)) 0L
      else math.abs(h.intOr("BITPIX", 8)).toLong / 8L * axes.product
    main + h.longOr("PCOUNT", 0L)
  }

  private def padTo(n: Long, block: Int): Long =
    if (n % block == 0) n else (n / block + 1) * block

  private def clampRows(meta: HduMeta, rows: Long): HduMeta = meta match {
    case b: HduMeta.Bintable => b.copy(nRows = math.min(b.nRows, rows))
    // a truncated compressed image has lost (part of) its heap — every
    // tile's payload lives there, so nothing is reliably decodable
    case _: HduMeta.CompImage => HduMeta.Opaque
    case i: HduMeta.Image =>
      if (i.nRows <= rows) i
      else if (rows == 0) HduMeta.Opaque
      else i.copy(axes = Vector(i.axes.head, rows))
    case other => other
  }

  private def resolveMeta(index: Int, h: FitsHeader): HduMeta =
    h.get("XTENSION").map(_.trim) match {
      case Some("BINTABLE") =>
        if (h.values.get("ZIMAGE").exists(_.trim == "T")) compImageMeta(h)
        else bintableMeta(h)
      case Some("IMAGE") => imageMeta(h)
      case Some("TABLE") => asciiTableMeta(h)
      case Some(_) => HduMeta.Opaque
      case None =>
        // Primary HDU: data present ⇒ treated as an image (the reference
        // makes the same assumption for headerless data, FitsLib.scala:359-375).
        if (dataLength(h) > 0) imageMeta(h) else HduMeta.Opaque
    }

  private def bintableMeta(h: FitsHeader): HduMeta = {
    val rowBytes = h.intOr("NAXIS1", 0)
    val nRows = h.longOr("NAXIS2", 0L)
    val nCols = h.intOr("TFIELDS", 0)
    var offset = 0
    val cols = Vector.newBuilder[BintableColumn]
    var i = 1
    while (i <= nCols) {
      // TSCALn/TZEROn linear scaling + TNULLn integer sentinel
      // (both beyond reference — TForm.Scaled / TForm.WithNull)
      val tform = TForm.withNull(
        TForm.scaled(
          TForm.parse(h.values.getOrElse(s"TFORM$i", "")),
          h.doubleOr(s"TSCAL$i", 1.0), h.doubleOr(s"TZERO$i", 0.0)),
        h.values.get(s"TNULL$i")
          .flatMap(v => scala.util.Try(v.trim.toLong).toOption))
      // TDIMn (multi-dim convention, beyond reference): applies when
      // the column is a fixed-width vector whose repeat equals the
      // dims' product and ≥2 axes are declared; anything else (1-D
      // TDIM, product mismatch, strings, var-length, bits) keeps the
      // flat shape — TDIM is presentation, never layout, so the
      // fallback is always safe
      val shaped = h.values.get(s"TDIM$i").flatMap(TForm.parseTDim) match {
        case Some(ds) if ds.length >= 2 &&
          TForm.flatLen(tform).contains(ds.product) => TForm.Md(tform, ds)
        case Some(ds) if ds.length >= 2 && ds.product == 1 =>
          // repeat-1 column with TDIM '(1,1,…)': parse() yields a
          // scalar form, so lift it to a 1-element vector first —
          // without this the declared nesting silently flattens
          TForm.asVec1(tform).map(TForm.Md(_, ds)).getOrElse(tform)
        case _ => tform
      }
      val name = h.values.getOrElse(s"TTYPE$i", s"col$i").trim
      cols += BintableColumn(name, shaped, offset)
      offset += shaped.byteWidth
      i += 1
    }
    HduMeta.Bintable(rowBytes, nRows, cols.result())
  }

  /** ASCII TABLE extension (FITS 4.0 §7.2, beyond reference — it maps
    * these to an empty DataFrame): fixed-width text rows of NAXIS1
    * chars; column i starts at 1-based TBCOLn and parses per its ASCII
    * TFORM grammar (Aw/Iw/Fw.d/Ew.d/Dw.d). Offsets are explicit — they
    * may overlap or leave gaps, unlike bintable cumulative offsets —
    * so this reuses [[HduMeta.Bintable]] with per-column positions. */
  private def asciiTableMeta(h: FitsHeader): HduMeta = {
    val rowBytes = h.intOr("NAXIS1", 0)
    val nRows = h.longOr("NAXIS2", 0L)
    val nCols = h.intOr("TFIELDS", 0)
    val cols = (1 to nCols).toVector.map { i =>
      val tform = TForm.parseAscii(h.values.getOrElse(s"TFORM$i", ""))
      val name = h.values.getOrElse(s"TTYPE$i", s"col$i").trim
      val start = math.max(0, h.intOr(s"TBCOL$i", 1) - 1)
      BintableColumn(name,
        // clamp a field running past the row end (malformed header)
        if (start + tform.byteWidth > rowBytes && rowBytes > 0)
          TForm.Unsupported(h.values.getOrElse(s"TFORM$i", ""), 0)
        else tform,
        start)
    }
    HduMeta.Bintable(rowBytes, nRows, cols)
  }

  /** [[HduMeta.CompImage]] resolution with graceful degradation: any
    * variant outside the supported envelope (codec, tiling, lossy
    * quantization, BYTEPIX mismatch) logs once and surfaces the RAW
    * bintable instead — the file stays readable, just not decoded as
    * an image. */
  private def compImageMeta(h: FitsHeader): HduMeta = {
    val table = bintableMeta(h)
    val bt = table match {
      case b: HduMeta.Bintable => b
      case _ => return HduMeta.Opaque
    }
    def fallback(why: String): HduMeta = {
      System.err.println(s"[graft] tile-compressed image outside the " +
        s"supported envelope ($why); surfacing the raw bintable")
      table
    }
    val cmp = h.values.getOrElse("ZCMPTYPE", "").trim
    if (!TileCodec.Supported(cmp)) return fallback(s"ZCMPTYPE '$cmp'")
    val zbitpix = h.intOr("ZBITPIX", 0)
    val znaxis = h.intOr("ZNAXIS", 0)
    val axes = (1 to znaxis).toVector.map(n => h.longOr(s"ZNAXIS$n", 0L))
    if (axes.isEmpty || axes.contains(0L)) return HduMeta.Opaque
    // tiling envelope: whole-line tiles for any dimensionality (the
    // fpack default and what our writer emits), or genuine 2D tiles
    // (fpack -t) for 2-axis images — a tile covers tileW × tileH
    // pixels, tiles ordered row-major (FITS tiled-image convention §4)
    val rowTiles = h.longOr("ZTILE1", axes.head) == axes.head &&
      (2 to znaxis).forall(n => h.longOr(s"ZTILE$n", 1L) == 1L)
    val (tileW, tileH) =
      if (rowTiles) (axes.head.toInt, 1)
      else if (znaxis == 2) {
        val tw = h.longOr("ZTILE1", axes.head)
        val th = h.longOr("ZTILE2", 1L)
        if (tw < 1 || th < 1)
          return fallback(s"ZTILE $tw x $th not positive")
        // a declared tile LARGER than the image is convention-legal
        // (the single tile clips to the image) — clamp, don't reject
        (math.min(tw, axes.head).toInt, math.min(th, axes(1)).toInt)
      } else return fallback("non-row ZTILE layout on a non-2D image")
    // Quantized (lossy) float tiles: stored int32 codes reconstruct as
    // physical = ZSCALE·code + ZZERO (FITS 4.0 §10.2) for NO_DITHER
    // (or absent), and ZSCALE·(code − rand + 0.5) + ZZERO for the
    // SUBTRACTIVE_DITHER modes, whose random sequence is the
    // convention's published Park–Miller generator — verified against
    // its golden constant at load ([[FitsDither]]). A dithered file
    // WITHOUT ZDITHER0 is undecodable by anyone (the seed is the
    // decode key) and degrades honestly to the raw bintable.
    def fixedCol(name: String, elems: Set[ElemType]): Int =
      bt.columns.collectFirst {
        case BintableColumn(`name`, TForm.Scalar(_, e), off)
          if elems(e) => off
      }.getOrElse(-1)
    val zscaleCol = fixedCol("ZSCALE", Set(ElemType.D))
    val zzeroCol = fixedCol("ZZERO", Set(ElemType.D))
    val quantized = h.values.contains("ZSCALE") ||
      h.values.contains("ZZERO") || zscaleCol >= 0 || zzeroCol >= 0
    var ditherMethod = 0
    var ditherSeed = 0
    if (quantized) {
      val zq = h.values.get("ZQUANTIZ").map(_.trim.toUpperCase)
      ditherMethod = zq match {
        case None | Some("NO_DITHER") => 0
        case Some("SUBTRACTIVE_DITHER_1") => 1
        case Some("SUBTRACTIVE_DITHER_2") => 2
        case Some(other) => return fallback(s"unsupported ZQUANTIZ '$other'")
      }
      if (ditherMethod > 0) {
        ditherSeed = h.intOr("ZDITHER0", 0)
        if (ditherSeed < 1 || ditherSeed > FitsDither.NRandom)
          return fallback(
            s"ZQUANTIZ '${zq.get}' without a valid ZDITHER0 seed")
      }
      if (zbitpix != -32 && zbitpix != -64)
        return fallback(s"quantized tiles with ZBITPIX $zbitpix")
      // if the table DECLARES per-tile params, both must be captured as
      // D scalars — otherwise decoding would silently use the header
      // defaults against per-tile codes (wrong values, not a crash)
      if (bt.columns.exists(c => c.name == "ZSCALE" || c.name == "ZZERO") &&
        (zscaleCol < 0 || zzeroCol < 0))
        return fallback("ZSCALE/ZZERO columns of unsupported form")
    }
    val raw = zbitpix match {
      case 8 => ElemType.B
      case 16 => ElemType.I
      case 32 => ElemType.J
      case 64 => ElemType.K
      case -32 => ElemType.E
      case -64 => ElemType.D
      case other => return fallback(s"ZBITPIX $other")
    }
    if (cmp == "RICE_1" && !quantized && !Set(8, 16, 32)(zbitpix))
      return fallback(s"RICE_1 with ZBITPIX $zbitpix")
    if (cmp == "HCOMPRESS_1" && !quantized && !Set(8, 16, 32)(zbitpix))
      return fallback(s"HCOMPRESS_1 with ZBITPIX $zbitpix")
    // ZNAMEn/ZVALn compression parameter pairs
    val zvals = Iterator.from(1)
      .map(i => (h.values.get(s"ZNAME$i"), h.values.get(s"ZVAL$i")))
      .takeWhile(_._1.isDefined)
      .collect { case (Some(n), Some(v)) => n.trim -> v.trim }.toMap
    def intParam(k: String, dflt: Int): Int =
      zvals.get(k).flatMap(v =>
        scala.util.Try(v.toDouble.toInt).toOption).getOrElse(dflt)
    // HCOMPRESS SMOOTH != 0 selects the lossy-mode smoothed
    // reconstruction (HCompress.hsmooth) — a decode-side interpolation
    // clamped inside the quantization interval, no-op for lossless
    // tiles. (The SCALE parameter needs no check here: each tile's
    // stream carries its own scale and the decoder honors it.)
    val hsmoothFlag = cmp == "HCOMPRESS_1" && intParam("SMOOTH", 0) != 0
    // quantized tiles store int32 CODES whatever the original float
    // width; plain tiles store the element itself
    val storedWidth = if (quantized) 4 else raw.width
    val bytepix = intParam("BYTEPIX", storedWidth)
    val blocksize = intParam("BLOCKSIZE", 32)
    if (bytepix != storedWidth)
      return fallback(s"BYTEPIX $bytepix != stored width $storedWidth")
    def varCol(name: String): Option[(Int, TForm.VarArr)] =
      bt.columns.collectFirst {
        case BintableColumn(`name`, v: TForm.VarArr, off) => (off, v)
      }
    val cd = varCol("COMPRESSED_DATA") match {
      case Some(c) => c
      case None => return fallback("no COMPRESSED_DATA P/Q column")
    }
    val lines = axes.product / axes.head
    val nTileCols = (axes.head + tileW - 1) / tileW
    val nTileRows = (lines + tileH - 1) / tileH
    if (bt.nRows != nTileCols * nTileRows)
      return fallback(
        s"NAXIS2 ${bt.nRows} != ${nTileCols * nTileRows} tiles " +
          s"($nTileCols x $nTileRows)")
    // original-image BSCALE/BZERO pass through unchanged (applied to
    // the decompressed elements, same as the plain image path); with
    // quantization the two scalings would compose — degrade that
    // combination rather than guess an order
    val bscale = h.doubleOr("BSCALE", 1.0)
    val bzero = h.doubleOr("BZERO", 0.0)
    if (quantized && (bscale != 1.0 || bzero != 0.0))
      return fallback("quantized tiles with BSCALE/BZERO")
    // BLANK → NULL applies to lossless integer tiles exactly as to a
    // plain integer image (quantized floats have ZBLANK instead)
    val elem =
      if (quantized) raw
      else ElemType.blanked(
        ElemType.scaled(raw, bscale, bzero), blankOf(h, zbitpix))
    val quantInfo =
      if (!quantized) None
      else Some(HduMeta.Quant(zscaleCol, zzeroCol,
        h.doubleOr("ZSCALE", 1.0), h.doubleOr("ZZERO", 0.0),
        fixedCol("ZBLANK", Set(ElemType.J)),
        h.values.get("ZBLANK")
          .flatMap(v => scala.util.Try(v.trim.toLong).toOption),
        dither = ditherMethod, ditherSeed = ditherSeed))
    HduMeta.CompImage(elem, axes, cmp, bytepix, blocksize,
      bt.rowBytes, bt.nRows, cd,
      varCol("GZIP_COMPRESSED_DATA"), varCol("UNCOMPRESSED_DATA"),
      tileW = tileW, tileH = tileH, quant = quantInfo,
      hsmooth = hsmoothFlag)
  }

  private def imageMeta(h: FitsHeader): HduMeta = {
    val bitpix = h.intOr("BITPIX", 8)
    val raw = bitpix match {
      case 8 => ElemType.B // sane ByteType (reference maps 8→Boolean slot)
      case 16 => ElemType.I
      case 32 => ElemType.J
      case 64 => ElemType.K
      case -32 => ElemType.E
      case -64 => ElemType.D
      case other => throw new IllegalArgumentException(
        s"Unsupported image BITPIX $other")
    }
    // BSCALE/BZERO linear scaling (beyond reference — ElemType.ScaledElem)
    val scaledElem = ElemType.scaled(raw,
      h.doubleOr("BSCALE", 1.0), h.doubleOr("BZERO", 0.0))
    // BLANK → SQL NULL for integer images (defined for BITPIX > 0 only;
    // compares the STORED value, so it wraps outside the scaling)
    val elem = ElemType.blanked(scaledElem, blankOf(h, bitpix))
    val meta = HduMeta.Image(elem, h.axes)
    if (meta.nRows == 0) HduMeta.Opaque else meta
  }

  /** The integer-image BLANK sentinel, when declared and applicable. */
  private def blankOf(h: FitsHeader, bitpix: Int): Option[Long] =
    if (bitpix <= 0) None
    else h.values.get("BLANK")
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
}
