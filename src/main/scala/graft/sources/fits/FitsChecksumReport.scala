package graft.sources.fits

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.sources.fits.core.{FitsChecksum, FitsStructure}

/** Distributed CHECKSUM/DATASUM audit — bit-rot detection for FITS
  * archives: `FitsChecksumReport.report(spark, pathOrGlob)`.
  *
  * One output row per HDU: whether the convention's cards are present,
  * and whether they verify. Scale shape: the driver's structural scan
  * yields per-HDU block extents; data regions are split into ≤128 MB
  * ranges summed in parallel tasks (2880-byte blocks are 4-byte
  * aligned, so range partials are plain word sums that add
  * associatively), then combined per HDU — a 100 TB archive audits at
  * aggregate scan bandwidth with no per-file driver IO beyond headers.
  */
object FitsChecksumReport {

  private val SplitBytes = 128L << 20

  val schema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("hdu", IntegerType, nullable = false),
    StructField("has_cards", BooleanType, nullable = false),
    StructField("checksum_ok", BooleanType, nullable = true),
    StructField("datasum_ok", BooleanType, nullable = true)))

  def report(spark: SparkSession, pathSpec: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val files = FitsFiles.resolve(pathSpec, conf)
    // driver side: headers only (same cost as scan planning)
    val hdus = files.flatMap { p =>
      FitsStructure.scan(p.getFileSystem(conf), p).map { h =>
        val stored = (h.header.values.get("CHECKSUM").map(_.trim),
          h.header.values.get("DATASUM").map(_.trim))
        ((p.toString, h.index), stored,
          (h.bounds.headerStart, h.bounds.dataStart, h.bounds.blockStop))
      }
    }
    val storedByHdu = hdus.map { case (k, stored, _) => k -> stored }.toMap
    // (file, hdu, start, end, isData)
    val ranges: Seq[(String, Int, Long, Long, Boolean)] =
      hdus.flatMap { case ((f, i), _, (hs, ds, stop)) =>
        val header = Seq((f, i, hs, ds, false))
        val data = (ds until stop by SplitBytes).map { s =>
          (f, i, s, math.min(s + SplitBytes, stop), true)
        }
        header ++ data
      }
    val props = FitsFiles.shipConf(conf)
    val parallelism = math.max(1,
      math.min(ranges.size, spark.sparkContext.defaultParallelism * 2))
    val partials = spark.sparkContext
      .parallelize(ranges, parallelism)
      .mapPartitions { it =>
        val c = FitsFiles.taskConf(props)
        val buf = new Array[Byte](4 << 20)
        it.map { case (file, hdu, start, end, isData) =>
          val path = new Path(file)
          val in = path.getFileSystem(c).open(path)
          try {
            var acc = 0L
            var pos = start
            while (pos < end) {
              val take = math.min(buf.length.toLong, end - pos).toInt
              in.readFully(pos, buf, 0, take)
              // fold every buffer: a raw u64 accumulation over a large
              // range wraps mod 2^64, and 2^64 ≢ 0 mod (2^32−1), so a
              // wrap would silently corrupt the ones'-complement sum.
              // Folded values stay <2^32 and add associatively mod
              // (2^32−1), which is what keeps this distributable.
              acc = FitsChecksum.fold(acc + FitsChecksum.wordSum(buf, 0, take))
              pos += take
            }
            ((file, hdu), (acc, if (isData) acc else 0L))
          } finally in.close()
        }
      }
      // partials are folded (<2^32), so pairwise adds are <2^33 — fold
      // again in the combiner to keep every intermediate overflow-free
      // no matter how many 128 MB ranges a multi-TB HDU produces
      .reduceByKey((a, b) => (FitsChecksum.fold(a._1 + b._1),
        FitsChecksum.fold(a._2 + b._2)))
    val rows = partials.map { case ((file, hdu), (total, data)) =>
      val (storedCk, storedDs) = storedByHdu((file, hdu))
      val has = storedCk.isDefined && storedDs.isDefined
      val ckOk: Any =
        if (storedCk.isEmpty) null
        else java.lang.Boolean.valueOf(
          FitsChecksum.verifies(FitsChecksum.fold(total)))
      val dsOk: Any =
        if (storedDs.isEmpty) null
        else java.lang.Boolean.valueOf(storedDs.flatMap(s =>
          scala.util.Try(s.toLong).toOption)
          .contains(FitsChecksum.fold(data)))
      Row(file, hdu, has, ckOk, dsOk)
    }
    spark.createDataFrame(rows, schema)
  }
}
