package graft.sources.fits

import java.lang.management.ManagementFactory
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Allocation guard for the table writer's cell path: numeric cells
  * encode through typed getters straight into the spill buffer, so
  * writing a row allocates nothing. A boxed per-cell path (a by-name
  * thunk plus a boxed value per cell) allocates hundreds of bytes per
  * row of this schema and fails the bound. */
class FitsWriterAllocSpec extends AnyFunSuite {

  private val schema = StructType(Seq(
    StructField("flag", BooleanType), StructField("b", ByteType),
    StructField("s", ShortType), StructField("i", IntegerType),
    StructField("k", LongType), StructField("e", FloatType),
    StructField("d", DoubleType)))

  /** Writes `n` rows through one writer; returns the bytes this thread
    * allocated inside the `write` loop alone. */
  private def writeRows(dir: String, n: Int): Long = {
    val writer = new FitsDataWriter(dir, schema, 0, 0L,
      FitsFiles.shipConf(new Configuration()))
    // one reused UnsafeRow — the row shape Spark hands a DataWriter
    val row = new UnsafeRow(schema.length)
    val width = UnsafeRow.calculateBitSetWidthInBytes(schema.length) +
      8 * schema.length
    row.pointTo(new Array[Byte](width), width)
    val mx = ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    val before = mx.getThreadAllocatedBytes(tid)
    var r = 0
    while (r < n) {
      row.setBoolean(0, r % 3 == 0)
      row.setByte(1, (r * 7).toByte)
      row.setShort(2, (r * 31).toShort)
      if (r % 10 == 0) row.setNullAt(3) else row.setInt(3, r * 1000003)
      row.setLong(4, r * 123456789L)
      row.setFloat(5, r * 0.5f)
      row.setDouble(6, r * 1.25)
      writer.write(row)
      r += 1
    }
    val allocated = mx.getThreadAllocatedBytes(tid) - before
    writer.commit()
    allocated
  }

  test("writing numeric rows allocates at most 64 bytes per row") {
    val dir = Files.createTempDirectory("fits-alloc").toString
    writeRows(dir, 20000) // warm-up: class loading and JIT
    val rows = 100000
    val perRow = writeRows(dir, rows).toDouble / rows
    info(f"$perRow%.1f B/row allocated in write()")
    assert(perRow <= 64.0, f"$perRow%.1f B/row allocated in write()")
    val parts = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".fits"))
    assert(parts.length == 2)
    parts.foreach(_.delete())
    new java.io.File(dir).delete()
  }
}
