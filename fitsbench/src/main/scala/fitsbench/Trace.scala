package fitsbench

import java.io.{File, PrintWriter}

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.fitsbench.BusSync
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.fits.core.FitsStructure

/** One span: a named interval with its parent; all spans of one op share
  * `op`. Times are milliseconds on the wall clock. */
final case class Span(op: Long, id: Int, parent: Int, name: String, start: Double, end: Double,
    attrs: Map[String, Double] = Map.empty)

/** Per-op layer counts, summed over the traced ops of a run. */
final class LayerSums {
  var ops, opMs, resolveMs, analysisMs, optimizerMs, planningMs, partitions, codegenMs = 0.0
  var rowsOut, usefulRows, jobs, tasks, driverOnlyMs = 0.0
  var readerRunMs, readerCpuMs, readerPayload, writerRunMs, writerCpuMs, commitMs = 0.0
  var structureMs, structureFiles, structureHdus, headerBytes = 0.0
}

/** Benchmark-owned SparkListener plus QueryExecutionListener; installed
  * only while traced ops run. Events arrive on Spark's listener thread. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private case class Job(id: Int, start: Long, var end: Long, stages: Seq[Int])
  private case class Stage(id: Int, var start: Long, var end: Long, var scan: Boolean,
      var tasks: Int, var runMs: Long, var cpuNs: Long)
  private val jobs = ArrayBuffer.empty[Job]
  private val stages = scala.collection.mutable.LinkedHashMap.empty[Int, Stage]
  private val qes = ArrayBuffer.empty[QueryExecution]
  val spans = ArrayBuffer.empty[Span]
  val sums = new LayerSums

  private def stage(id: Int) = stages.getOrElseUpdate(id, Stage(id, 0, 0, false, 0, 0, 0))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.jobId, e.time, e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId)
    s.start = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    s.scan = e.stageInfo.rddInfos.exists(_.name.contains("DataSourceRDD"))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stage(e.stageInfo.stageId).end = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.tasks += 1
    if (e.taskMetrics != null) {
      s.runMs += e.taskMetrics.executorRunTime
      s.cpuNs += e.taskMetrics.executorCpuTime
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { qes += qe }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def uninstall(): Unit = {
    BusSync.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  private object Plans extends AdaptiveSparkPlanHelper {
    def scans(qe: QueryExecution): Seq[BatchScanExec] =
      collectWithSubqueries(qe.executedPlan) { case b: BatchScanExec => b }
  }

  /** Runs one op with spans around resolve (load()), the action, its
    * planning phases, jobs and stages; adds its counts to `sums`. */
  def trace(opId: Long, op: Op, clock: Clock, writes: Boolean): (Double, Boolean) = {
    synchronized { jobs.clear(); stages.clear(); qes.clear() }
    val cg0 = CodeGenerator.compileTime
    val t0 = clock.ms()
    val df = op.load()
    val t1 = clock.ms()
    val ok = op.act(df)
    val t2 = clock.ms()
    BusSync.drain(spark.sparkContext)
    synchronized {
      var next = 0
      def add(parent: Int, name: String, s: Double, e: Double, attrs: Map[String, Double] = Map.empty): Int = {
        next += 1
        spans += Span(opId, next, parent, name, s, e, attrs)
        next
      }
      val root = add(0, s"op.${op.shape}", t0, t2)
      add(root, "resolve", t0, t1)
      for (qe <- qes; (phase, p) <- qe.tracker.phases)
        add(root, s"plan.$phase", p.startTimeMs.toDouble, p.endTimeMs.toDouble)
      val scans = qes.flatMap(Plans.scans)
      val rowsOut = scans.flatMap(_.metrics.get("numOutputRows")).map(_.value.toDouble).sum
      for (j <- jobs) {
        val js = add(root, "job", j.start.toDouble, j.end.toDouble)
        for (sid <- j.stages; s <- stages.get(sid) if s.tasks > 0)
          add(js, if (writes) "stage.write" else if (s.scan) "stage.scan" else "stage", s.start.toDouble, s.end.toDouble,
            Map("tasks" -> s.tasks.toDouble, "task_run_ms" -> s.runMs.toDouble, "task_cpu_ms" -> s.cpuNs / 1e6))
      }
      val phases = qes.flatMap(_.tracker.phases.toSeq)
      def phaseMs(n: String) = phases.filter(_._1 == n).map(_._2.durationMs.toDouble).sum
      val inJobs = Clock.union(jobs.map(j => (j.start.toDouble, j.end.toDouble)).toSeq, t0, t2)
      val lastJobEnd = if (jobs.isEmpty) t1 else jobs.map(_.end).max.toDouble
      val all = stages.values.toSeq
      // a write job re-reads the cached source, whose lineage holds a
      // DataSourceRDD: on a write its stages count as writer, not reader
      val scanStages = if (writes) Nil else all.filter(_.scan)
      val sm = sums
      sm.ops += 1; sm.opMs += t2 - t0; sm.resolveMs += t1 - t0
      sm.analysisMs += phaseMs("analysis"); sm.optimizerMs += phaseMs("optimization")
      sm.planningMs += phaseMs("planning")
      sm.partitions += scans.map(_.inputRDD.getNumPartitions).sum
      sm.codegenMs += (CodeGenerator.compileTime - cg0) / 1e6
      sm.rowsOut += rowsOut; sm.usefulRows += math.min(rowsOut, op.needRows.toDouble)
      sm.jobs += jobs.size; sm.tasks += all.map(_.tasks).sum
      sm.driverOnlyMs += (t2 - t0) - inJobs
      sm.readerRunMs += scanStages.map(_.runMs).sum; sm.readerCpuMs += scanStages.map(_.cpuNs).sum / 1e6
      if (scanStages.nonEmpty) sm.readerPayload += op.payload
      if (writes) {
        sm.writerRunMs += all.map(_.runMs).sum; sm.writerCpuMs += all.map(_.cpuNs).sum / 1e6
        sm.commitMs += math.max(0.0, t2 - lastJobEnd)
      }
      (t2 - t0, ok)
    }
  }

  /** Direct header walk of the files an op loads (core.structure layer). */
  def structure(files: Seq[File], clock: Clock): Unit = if (files.nonEmpty) {
    val fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val t0 = clock.ms()
    val hdus = files.map(f => FitsStructure.scan(fs, new Path(f.getPath)))
    sums.structureMs += clock.ms() - t0
    sums.structureFiles += files.size
    sums.structureHdus += hdus.map(_.size).sum
    sums.headerBytes += hdus.flatten.map(h => h.bounds.dataStart - h.bounds.headerStart).sum
  }

  /** Writes the spans as JSON lines, with each span's self time: its
    * duration minus the part its children cover. */
  def writeSpans(file: File): Unit = {
    file.getParentFile.mkdirs()
    val byParent = spans.groupBy(s => (s.op, s.parent))
    val out = new PrintWriter(file)
    try spans.foreach { s =>
      val kids = byParent.getOrElse((s.op, s.id), Nil).map(k => (k.start, k.end)).toSeq
      val self = (s.end - s.start) - Clock.union(kids, s.start, s.end)
      out.println(Json.obj(Seq("op" -> s.op, "span" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> self) ++ s.attrs.toSeq))
    } finally out.close()
  }
}

/** Wall clock in epoch milliseconds with nanosecond steps, comparable to
  * Spark's event times. */
final class Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

object Clock {
  /** Length of the union of intervals, clipped to [lo, hi]. */
  def union(xs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var covered, reach = 0.0
    reach = lo
    for ((s, e) <- xs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (e > reach) { covered += e - math.max(s, reach); reach = e }
    }
    covered
  }
}
