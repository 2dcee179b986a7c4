package graft.sources.fits

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.SparkTestBase

/** Byte-identity pins for the FITS writer: fixed, deterministic
  * one-partition DataFrames whose written part file must hash to the
  * recorded SHA-256. The pins were taken from the boxed per-cell writer
  * the typed encoders replaced, so any change to the bytes a table or an
  * image encodes to — cell values, null sentinels, TNULL/BLANK/GMIN/GMAX
  * cards, string widths, descriptors, heap order, padding, checksums —
  * fails here.
  *
  * The table's column order makes fixed-width scalar runs start the
  * row, end it, and break on string and array columns, which are the
  * edges of the commit's run-coalesced copy. */
class FitsGoldenBytesSpec extends SparkTestBase {

  private val pins: Map[String, String] = Map(
    "table" ->
      "b2cdc8cb4cee4619a191d70955c675591e891aedd187ad1da7c4c7a9e0b8f373",
    "table_checksum" ->
      "9921a761003f4bbe5dc9fa76aa69dccfce6deea31a0448db87b62e9dd3e408ef",
    "tdim" ->
      "d2e060252e70b4d0aed41145520b13a74768344bf4b3beb6a5174501525db1b7",
    "image_int16_nulls" ->
      "65204040f319abd1f08feb7241bc2fb66233773b5c5cdc4bd60dc8eaea0ffa69",
    "image_int32_rice" ->
      "2b925af78ffa3919c421e240dc0ed550f975d8d9705f7a50719197c0d2fbec98",
    "image_float" ->
      "916c9c2dfddd938680bf20322c1455ae8bafd49f0ba68b4c4d4b1f72c1466d6e")

  private def sha256(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes)
      .map(b => f"${b & 0xff}%02x").mkString

  /** Writes `df` as one partition and returns its part file's bytes. */
  private def written(df: DataFrame, opts: (String, String)*): Array[Byte] = {
    val dir = Files.createTempDirectory("fits-golden").resolve("out").toString
    opts.foldLeft(df.coalesce(1).write.format("fits")) {
      case (w, (k, v)) => w.option(k, v)
    }.mode("overwrite").save(dir)
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".fits"))
    assert(parts.length == 1, parts.map(_.getName).mkString(","))
    Files.readAllBytes(Paths.get(parts.head.getPath))
  }

  private def writtenHash(df: DataFrame, opts: (String, String)*): String =
    sha256(written(df, opts: _*))

  /** The 80-char header cards, up to `END`, of the HDU that follows
    * the one-block empty primary. */
  private def tableCards(bytes: Array[Byte]): Seq[String] =
    new String(bytes, 2880, bytes.length - 2880, "US-ASCII")
      .grouped(80).takeWhile(!_.startsWith("END ")).toSeq

  private def df(schema: StructType, rows: Seq[Row]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  // Fixed-width run (7 cols) | fixed string | run (2) | fixed vector |
  // run (4) | ragged vector | var-length PA string | run (3) to the end.
  private val tableSchema = StructType(Seq(
    StructField("flag_n", BooleanType), StructField("b_n", ByteType),
    StructField("s_min", ShortType), StructField("i_n", IntegerType),
    StructField("k_min", LongType), StructField("e_nan", FloatType),
    StructField("d_inf", DoubleType),
    StructField("name", StringType),
    StructField("s_n", ShortType), StructField("i_min", IntegerType),
    StructField("vec", ArrayType(ShortType)),
    StructField("k_n", LongType), StructField("b_min", ByteType),
    StructField("d_n", DoubleType), StructField("e_n", FloatType),
    StructField("rag", ArrayType(IntegerType)),
    StructField("doc", StringType),
    StructField("flag", BooleanType), StructField("e_neg0", FloatType),
    StructField("d_plain", DoubleType)))

  private val tableRows: Seq[Row] = {
    val nulls = (r: Int) => r % 3 == 1
    (0 until 7).map { r =>
      def orNull(v: Any): Any = if (nulls(r)) null else v
      Row(
        orNull(r % 2 == 0),
        orNull((r * 37 - 100).toByte),
        if (r == 2) Short.MinValue else (r * 1000 - 3000).toShort,
        orNull(r * 123456 - 400000),
        if (r == 5) Long.MinValue else r * 9876543210L,
        Seq(1.5f, Float.NaN, -2.25f, Float.PositiveInfinity, 0f, 3f, -7f)(r),
        Seq(Double.NegativeInfinity, 1e300, -0.0, 2.5, Double.PositiveInfinity,
          -1e-300, 42.0)(r),
        if (r == 3) null else Seq("a", "bb", "ccc'q", "", "eeeee", "f", "gg")(r),
        orNull((r * 11 - 30).toShort),
        if (r == 6) Int.MinValue else r * 7,
        Seq[Any](r.toShort, if (r == 4) null else (r * 2).toShort,
          Short.MaxValue),
        orNull(r.toLong * -1000000007L),
        if (r == 0) Byte.MinValue else r.toByte,
        orNull(r * 0.125),
        orNull(r * -0.5f),
        (0 until (r % 4)).map(j => if (j == 1 && r == 3) null else r * 10 + j),
        if (r == 1) "L" * 100 else if (r == 5) null else s"doc-$r",
        r % 3 == 0,
        if (r % 2 == 0) -0.0f else r.toFloat,
        r * 1.75)
    }
  }

  test("every scalar type, nulls, sentinels, specials, strings and arrays") {
    val bytes = written(df(tableSchema, tableRows))
    // the data reaches every bookkeeping path the pin covers
    val cards = tableCards(bytes)
    val keys = cards.map(_.take(8).trim).toSet
    assert(Seq("TNULL2", "TNULL4", "TNULL9", "TNULL11", "TNULL12", "GMIN7")
      .forall(keys))
    assert(!Seq("TNULL3", "TNULL5", "TNULL10", "TNULL13", "TNULL16", "GMIN6")
      .exists(keys))
    val forms = cards.filter(_.startsWith("TFORM")).map(_.drop(10).trim)
    assert(Seq("'5A      '", "'3I      '", "'1PJ(3)  '", "'1PA(100)'")
      .forall(forms.contains))
    assert(sha256(bytes) == pins("table"))
  }

  test("the same table with checksum=true") {
    assert(writtenHash(df(tableSchema, tableRows), "checksum" -> "true") ==
      pins("table_checksum"))
  }

  test("TDIM nested arrays between fixed-width runs") {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("cube", ArrayType(ArrayType(DoubleType))),
      StructField("s", ShortType), StructField("flag", BooleanType),
      StructField("m", ArrayType(ArrayType(ArrayType(ByteType)))),
      StructField("tag", StringType)))
    val rows = (0 until 5).map { r =>
      Row(r.toLong,
        Seq(Seq(r * 1.0, -r * 2.0, Double.NaN), Seq(r + 0.5, -0.0, 1e10)),
        if (r == 2) null else (r - 2).toShort,
        r % 2 == 1,
        Seq(Seq(Seq(r.toByte, (r + 1).toByte), Seq(Byte.MaxValue, 0.toByte))),
        s"t$r")
    }
    assert(writtenHash(df(schema, rows)) == pins("tdim"))
  }

  private def imageDf(et: DataType, lines: Seq[Seq[Any]]): DataFrame =
    df(StructType(Seq(StructField("Image", ArrayType(et)),
        StructField("ImgIndex", LongType))),
      lines.zipWithIndex.map { case (l, i) => Row(l, i.toLong) })

  test("int16 image with null pixels writes BLANK") {
    val lines = (0 until 6).map(y => (0 until 9).map { x =>
      if ((x + y) % 7 == 3) null else ((y * 9 + x) * 401 - 9000).toShort
    })
    assert(writtenHash(imageDf(ShortType, lines), "image" -> "true") ==
      pins("image_int16_nulls"))
  }

  test("int32 image through RICE_1 tile compression") {
    val lines = (0 until 8).map(y => (0 until 40).map(x =>
      if (x == 5 && y == 2) null else (x * x - y * 1000) * 17))
    assert(writtenHash(imageDf(IntegerType, lines), "image" -> "true",
      "compress" -> "RICE_1") == pins("image_int32_rice"))
  }

  test("float image: null pixels write 0, specials keep their bits") {
    val lines = (0 until 4).map(y => (0 until 5).map { x =>
      if (x == y) null
      else Seq(Float.NaN, -0.0f, Float.NegativeInfinity, 1.5f, y * 0.25f)(x)
    })
    assert(writtenHash(imageDf(FloatType, lines), "image" -> "true") ==
      pins("image_float"))
  }
}
