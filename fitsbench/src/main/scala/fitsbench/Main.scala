package fitsbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

import graft.sources.fits.core.TileCodec

/** Minimal JSON rendering for the result and record lines. */
object Json {
  def value(x: Any): String = x match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, v) => k.toString -> v })
    case s: Seq[_] => s.map(value).mkString("[", ", ", "]")
    case null | None => "null"
    case Some(v) => value(v)
    case r: RawJson => r.s
    case other => value(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => value(k) + ": " + value(v) }.mkString("{", ", ", "}")
}

/** Host noise over an interval: steal and iowait shares from /proc/stat,
  * the 1-minute load average, and this process's CPU against wall time. */
final class HostNoise {
  private def cpuLine(): Array[Long] = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
  }
  private def load1(): Double = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.trim.split("\\s+")(0).toDouble finally src.close()
  }
  private val a = scala.util.Try(cpuLine()).getOrElse(Array.fill(8)(0L))
  private val cpu0 = Main.processCpuNs()
  private val wall0 = System.nanoTime()

  /** steal %, iowait %, load average, process CPU ÷ wall, external load. */
  def finish(): Map[String, Double] = {
    val b = scala.util.Try(cpuLine()).getOrElse(a)
    val d = b.zip(a).map { case (x, y) => (x - y).toDouble }
    val total = math.max(1.0, d.take(8).sum)
    val procCpu = (Main.processCpuNs() - cpu0).toDouble / math.max(1L, System.nanoTime() - wall0)
    val load = scala.util.Try(load1()).getOrElse(0.0)
    Map("steal_pct" -> 100 * d(7) / total, "iowait_pct" -> 100 * d(4) / total,
      "load1" -> load, "proc_cpu_per_wall" -> procCpu, "ext_load" -> math.max(0.0, load - procCpu))
  }
}

/** Peak heap in use after a collection (the live-set high-water mark),
  * from GC notifications. */
final class HeapPeak extends NotificationListener {
  @volatile var peak = 0L
  @volatile var collections = 0
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }
  def start(): Unit = { peak = 0; collections = 0; emitters.foreach(_.addNotificationListener(this, null, null)) }
  def stop(): Unit = emitters.foreach(e => scala.util.Try(e.removeNotificationListener(this)))
  def handleNotification(n: Notification, hb: Any): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { peak = math.max(peak, used); collections += 1 }
    }
  /** Falls back to the heap in use now when no collection ran. */
  def result(): Long =
    if (collections > 0) peak else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
}

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, root: File)

object Main {
  val MiB = 1024.0 * 1024.0
  /** Spark runs local[Slots]: two of four cores, leaving room for the
    * driver, GC and JIT threads. */
  val Slots = 2
  val WarmSeconds = 3.0

  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
  private val threads = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  /** CPU nanoseconds of every live thread, by thread id (nanosecond
    * resolution, unlike the process clock's scheduler ticks). */
  def threadCpuNs(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }
  /** CPU nanoseconds spent by all threads since `before`. */
  def cpuSince(before: Map[Long, Long]): Long =
    threadCpuNs().map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  def allocBytes(): Long = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean].getTotalThreadAllocatedBytes

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      new File(need("root")))
  }

  def session(args: Args): SparkSession = {
    val local = new File(args.root, "spark-local")
    local.mkdirs()
    SparkSession.builder().master(s"local[$Slots]").appName("fitsbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", local.getPath)
      .config("spark.sql.warehouse.dir", new File(args.root, "warehouse").getPath)
      .config("spark.sql.shuffle.partitions", (2 * Slots).toString)
      .getOrCreate()
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Runs one op untraced: (milliseconds, answer correct). An op that
    * throws counts as failed. */
  def timed(op: Op): (Double, Boolean) = {
    val t0 = System.nanoTime()
    val ok = scala.util.Try(op.act(op.load())).getOrElse(false)
    ((System.nanoTime() - t0) / 1e6, ok)
  }

  /** The highest percentile with at least ten samples beyond it, capped
    * at p95: (value, percentile level, samples beyond). */
  def tail(ms: Seq[Double]): (Double, Double, Int) = {
    val s = ms.sorted
    val n = s.size
    val idx = if (n >= 200) math.ceil(0.95 * n).toInt - 1 else math.max(0, n - 11)
    (s(idx), 100.0 * (idx + 1) / n, n - idx - 1)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    args.root.mkdirs()
    val v = Values(args.seed)
    val wl = Workloads(args.workload, v, args.root)
    val corpora = wl.prepare()
    val corpusGenS = corpora.map(_.genSeconds).sum

    // Set-up, repeated: session start, corpus open, one checked warm-up op.
    val setups = ArrayBuffer.empty[Double]
    var attempted = 0L
    var failed = 0L
    var spark: SparkSession = null
    for (k <- 0 until 3) {
      if (spark != null) stop(spark)
      val t0 = System.nanoTime()
      spark = session(args)
      wl.open(spark)
      val (_, ok) = timed(wl.op(spark, 2000000L))
      setups += (System.nanoTime() - t0) / 1e9
      attempted += 1
      if (!ok) failed += 1
    }
    // Untimed whole rotations so that lazy set-up and JIT settle.
    val warm0 = System.nanoTime()
    var w = 0L
    while (w % wl.shapes != 0 || (System.nanoTime() - warm0) / 1e9 < WarmSeconds) {
      val (_, ok) = timed(wl.op(spark, 1000000L + w))
      attempted += 1
      if (!ok) failed += 1
      w += 1
    }
    System.gc()

    val heap = new HeapPeak
    val host = new HostNoise
    val cpu0 = processCpuNs(); val gc0 = gcMs(); val alloc0 = allocBytes()
    val clock = new Clock
    val tracer = if (args.trace) Some(new Tracer(spark)) else None
    val lat = ArrayBuffer.empty[Double]
    val untracedLat = ArrayBuffer.empty[Double]
    // per rotation slot: op milliseconds and CPU milliseconds of the ops
    // that feed the metrics (the traced ones in a traced run)
    val slotMs = Array.fill(wl.shapes)(ArrayBuffer.empty[Double])
    val slotCpu = Array.fill(wl.shapes)(ArrayBuffer.empty[Double])
    val shapeMs = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
    var payload = 0L
    var written = 0L
    var opIndex = 0L
    var rotation = 0
    heap.start()
    val start = System.nanoTime()
    // Closed loop, one client: whole rotations until the time is up. A
    // traced run alternates traced and untraced rotations, traced first.
    while ((System.nanoTime() - start) / 1e9 < args.seconds) {
      val traced = tracer.filter(_ => rotation % 2 == 0)
      traced.foreach(_.install())
      for (_ <- 0 until wl.shapes) {
        val op = wl.op(spark, opIndex)
        val opCpu0 = threadCpuNs()
        val (ms, ok) = traced match {
          case Some(t) =>
            val r = scala.util.Try(t.trace(opIndex, op, clock, wl.writes))
              .getOrElse((0.0, false))
            t.structure(wl.structureFiles(opIndex), clock)
            r
          case None => timed(op)
        }
        val opCpuMs = cpuSince(opCpu0) / 1e6
        if (traced.isDefined || tracer.isEmpty) {
          lat += ms
          slotMs((opIndex % wl.shapes).toInt) += ms
          slotCpu((opIndex % wl.shapes).toInt) += opCpuMs
          shapeMs.getOrElseUpdate(op.shape, ArrayBuffer.empty) += ms
        } else untracedLat += ms
        attempted += 1
        if (!ok) failed += 1
        payload += op.payload
        written += wl.writtenBytes
        opIndex += 1
      }
      traced.foreach(_.uninstall())
      rotation += 1
    }
    val wallS = (System.nanoTime() - start) / 1e9
    heap.stop()
    val hostStats = host.finish()
    val cpuMs = (processCpuNs() - cpu0) / 1e6
    val gcMsTotal = (gcMs() - gc0).toDouble
    val allocMiB = (allocBytes() - alloc0) / MiB
    val opsDone = opIndex

    val finished = scala.util.Try(wl.finish(spark)).getOrElse(false)
    if (!finished) failed += opsDone
    stop(spark)

    val (p95, p95Level, beyond) = tail(lat.toSeq)
    // Rates from per-slot medians: one rotation takes the sum of its
    // slots' median op times, so a host burst that slows a few ops of a
    // run does not move the run's figure.
    val rotationS = slotMs.map(x => Util.median(x.toSeq)).sum / 1000
    val opsS = wl.shapes / rotationS
    val e2e = Seq(
      ("setup_s", Util.median(setups.toSeq), "s"),
      ("throughput_mb_s", payload.toDouble / opsDone / MiB * opsS, "MiB/s"),
      ("ops_s", opsS, "ops/s"),
      ("op_ms_p50", Util.median(lat.toSeq), "ms"),
      ("op_ms_p95", p95, "ms"),
      ("cpu_ms_per_op", slotCpu.map(x => Util.median(x.toSeq)).sum / wl.shapes, "ms"),
      ("heap_peak_mb", heap.result() / MiB, "MiB"))

    val perLayer: Seq[(String, Double, String)] = tracer.map { t =>
      val s = t.sums
      val n = math.max(1.0, s.ops)
      val codec = if (wl.name == "image_tiles") codecRates(v) else Map.empty[String, Double]
      val untraced = untracedLat.sum / math.max(1, untracedLat.size)
      val traced = lat.sum / math.max(1, lat.size)
      Seq(
        ("structure.scan_ms", s.structureMs / n, "ms"),
        ("structure.files", s.structureFiles / n, "count"),
        ("structure.hdus", s.structureHdus / n, "count"),
        ("structure.header_kb", s.headerBytes / 1024 / n, "KiB"),
        ("source.resolve_ms", s.resolveMs / n, "ms"),
        ("plan.analysis_ms", s.analysisMs / n, "ms"),
        ("plan.optimizer_ms", s.optimizerMs / n, "ms"),
        ("plan.planning_ms", s.planningMs / n, "ms"),
        ("plan.partitions", s.partitions / n, "count"),
        ("plan.codegen_ms", s.codegenMs / n, "ms"),
        ("scan.rows_out", s.rowsOut / n, "count"),
        ("scan.useful_row_frac", if (s.rowsOut > 0) s.usefulRows / s.rowsOut else 0.0, "ratio"),
        ("sched.jobs", s.jobs / n, "count"),
        ("sched.tasks", s.tasks / n, "count"),
        ("sched.driver_only_ms", s.driverOnlyMs / n, "ms"),
        ("reader.task_run_ms", s.readerRunMs / n, "ms"),
        ("reader.task_cpu_ms", s.readerCpuMs / n, "ms"),
        ("reader.mb_s_per_task", if (s.readerRunMs > 0) s.readerPayload / MiB / (s.readerRunMs / 1000) else 0.0, "MiB/s"),
        ("codec.rice_decode_mb_s", codec.getOrElse("RICE_1.decode", 0.0), "MiB/s"),
        ("codec.hcomp_decode_mb_s", codec.getOrElse("HCOMPRESS_1.decode", 0.0), "MiB/s"),
        ("codec.rice_encode_mb_s", codec.getOrElse("RICE_1.encode", 0.0), "MiB/s"),
        ("codec.hcomp_encode_mb_s", codec.getOrElse("HCOMPRESS_1.encode", 0.0), "MiB/s"),
        ("writer.task_run_ms", s.writerRunMs / n, "ms"),
        ("writer.task_cpu_ms", s.writerCpuMs / n, "ms"),
        ("writer.commit_ms", s.commitMs / n, "ms"),
        ("writer.bytes_per_payload_byte", if (wl.writes) written.toDouble / payload else 0.0, "ratio"),
        ("jvm.gc_ms_per_op", gcMsTotal / opsDone, "ms"),
        ("jvm.alloc_mb_per_op", allocMiB / opsDone, "MiB"),
        ("host.steal_pct", hostStats("steal_pct"), "%"),
        ("host.iowait_pct", hostStats("iowait_pct"), "%"),
        ("host.ext_load", hostStats("ext_load"), "load"),
        ("share.driver", s.driverOnlyMs / math.max(1e-9, s.opMs), "ratio"),
        ("share.resolve_plan", (s.resolveMs + s.analysisMs + s.optimizerMs + s.planningMs) / math.max(1e-9, s.opMs), "ratio"),
        ("share.reader_slots", s.readerRunMs / math.max(1e-9, s.opMs * Slots), "ratio"),
        ("trace.overhead_frac", if (untraced > 0) traced / untraced - 1 else 0.0, "ratio"))
    }.getOrElse(Nil)

    tracer.foreach(_.writeSpans(new File(args.root, s"traces/${wl.name}-s${args.seed}.jsonl")))

    val record = Json.obj(Seq(
      "workload" -> wl.name, "seed" -> args.seed, "seconds" -> args.seconds, "trace" -> args.trace,
      "slots" -> Slots, "closed_loop_clients" -> 1,
      "corpus" -> corpora.map(c => Map("dir" -> c.dir.getName, "digest" -> c.digest, "files" -> c.files,
        "payload_bytes" -> c.payloadBytes, "file_bytes" -> c.fileBytes)),
      "corpus_gen_s" -> corpusGenS, "setup_s_runs" -> setups.toSeq,
      "ops" -> opsDone, "timed_wall_s" -> wallS, "ops_per_wall_s" -> opsDone / wallS,
      "payload_mib_per_wall_s" -> payload / MiB / wallS, "process_cpu_ms_per_op" -> cpuMs / opsDone, "latency_samples" -> lat.size,
      "op_ms_p95_level" -> p95Level, "op_ms_p95_samples_beyond" -> beyond,
      "shape_ms_p50" -> shapeMs.map { case (k, x) => k -> Util.median(x.toSeq) }.toMap,
      "fail_frac" -> failed.toDouble / attempted, "readback_ok" -> finished,
      "gc_ms" -> gcMsTotal, "alloc_mib" -> allocMiB, "cpu_ms" -> cpuMs, "host" -> hostStats))
    println(Json.obj(Seq("record" -> RawJson(record))))

    val metrics = (if (args.trace) perLayer else e2e).map { case (k, x, u) =>
      k -> Map("value" -> x, "unit" -> u)
    }
    println(Json.obj(Seq("correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> RawJson(Json.obj(metrics)))))
  }

  /** Single-threaded codec throughput on the workload's tile shape, in
    * decoded MiB per second, from direct core.TileCodec calls. */
  def codecRates(v: Values): Map[String, Double] = {
    val (tw, th) = (512, 32)
    Seq("RICE_1", "HCOMPRESS_1").flatMap { codec =>
      val tiles = for (bitpix <- Seq(16, 32); t <- 0 until 8) yield {
        val bp = bitpix / 8
        val raw = java.nio.ByteBuffer.allocate(tw * th * bp)
        for (y <- 0 until th; x <- 0 until tw) {
          val p = v.pixel(7, x, t * th + y, bitpix)
          if (bp == 2) raw.putShort(p.toShort) else raw.putInt(p)
        }
        (raw.array, bp)
      }
      val bytes = tiles.map(_._1.length.toLong).sum
      def rate(f: () => Unit): Double = {
        f()
        var reps = 0
        val t0 = System.nanoTime()
        while (System.nanoTime() - t0 < 300000000L) { f(); reps += 1 }
        bytes * reps / MiB / ((System.nanoTime() - t0) / 1e9)
      }
      var comp: Seq[Array[Byte]] = Nil
      val enc = rate(() => comp = tiles.map { case (r, bp) => TileCodec.compress2D(codec, r, bp, 32, tw, th, 0) })
      val dec = rate(() => tiles.zip(comp).foreach { case ((r, bp), c) =>
        TileCodec.decompress(codec, c, r.length / bp, bp, 32)
      })
      Seq(s"$codec.encode" -> enc, s"$codec.decode" -> dec)
    }.toMap
  }
}

/** Pre-rendered JSON embedded verbatim. */
final case class RawJson(s: String) { override def toString: String = s }
