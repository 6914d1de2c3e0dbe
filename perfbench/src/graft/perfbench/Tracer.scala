package graft.perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What one operation cost, layer by layer. Times in seconds, bytes in
  * bytes. Filled by [[Tracer]] between `begin` and `end`. */
final class Layers {
  var jobs, tasks, codegenN = 0L
  var taskS, analysisS, optimizationS, planningS, codegenS = 0.0
  var gcS, jitS = 0.0
  var shuffleBytes, spillBytes, resultBytes = 0L
  /** Wall time inside the op not covered by any running job. */
  var noJobS = 0.0
  val jobIntervals = scala.collection.mutable.ArrayBuffer[(Long, Long)]()

  def add(o: Layers): Unit = {
    jobs += o.jobs; tasks += o.tasks; codegenN += o.codegenN
    taskS += o.taskS; analysisS += o.analysisS
    optimizationS += o.optimizationS; planningS += o.planningS
    codegenS += o.codegenS; gcS += o.gcS; jitS += o.jitS
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    resultBytes += o.resultBytes; noJobS += o.noJobS
  }
}

/** Passive per-operation tracer: a SparkListener (jobs, stages, tasks), a
  * QueryExecutionListener (QueryPlanningTracker phases), CodegenMetrics,
  * and the GC and JIT MXBeans. The benchmark runs one operation at a
  * time, so every event that arrives between `begin` and the drained
  * `end` belongs to the current operation. Registered only in the
  * traced run; untraced runs time the same code with no listener. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  @volatile private var cur: Layers = null
  private val jobStart = scala.collection.mutable.Map[Int, Long]()
  private val stageOwner = scala.collection.mutable.Map[Int, Layers]()
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val jit = ManagementFactory.getCompilationMXBean
  private var gc0, jit0, cg0 = 0L
  private var t0 = 0L

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  private def gcMs = gcBeans.map(_.getCollectionTime).sum
  private def cgCount = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def begin(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    val l = new Layers
    gc0 = gcMs; jit0 = jit.getTotalCompilationTime; cg0 = cgCount
    t0 = System.currentTimeMillis
    synchronized { cur = l }
  }

  /** Ends the current operation: drains the bus and returns its layers. */
  def end(): Layers = {
    val t1 = System.currentTimeMillis
    PerfbenchBus.drain(spark.sparkContext)
    val l = synchronized { val c = cur; cur = null; c }
    l.gcS = (gcMs - gc0) / 1000.0
    l.jitS = (jit.getTotalCompilationTime - jit0) / 1000.0
    l.codegenN = cgCount - cg0
    // CodegenMetrics keeps compile times in a sampling histogram, so the
    // time is the new-compile count times the histogram mean: approximate
    l.codegenS = l.codegenN *
      CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean / 1000.0
    l.noJobS = (t1 - t0 - covered(l.jobIntervals.toSeq, t0, t1)) / 1000.0
    l
  }

  /** Milliseconds of [lo, hi] covered by the union of the intervals. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total, reach = 0L
    reach = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (cur != null) {
      cur.jobs += 1
      jobStart(e.jobId) = e.time
      e.stageInfos.foreach(s => stageOwner(s.stageId) = cur)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { s =>
      if (cur != null) cur.jobIntervals += ((s, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val l = stageOwner.getOrElse(e.stageId, cur)
    val m = e.taskMetrics
    if (l != null && m != null) {
      l.tasks += 1
      l.taskS += m.executorRunTime / 1000.0
      l.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      l.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      l.resultBytes += m.resultSize
    }
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    if (cur != null) {
      val p = qe.tracker.phases
      def s(k: String) = p.get(k).map(_.durationMs / 1000.0).getOrElse(0.0)
      cur.analysisS += s("analysis")
      cur.optimizationS += s("optimization")
      cur.planningS += s("planning")
    }
  }

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    phases(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    phases(qe)
}
