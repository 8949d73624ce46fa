package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Per-layer counters for one traced pass, collected at the engine's
  * boundaries from outside the program: a `SparkListener` for the
  * scheduler / executor / shuffle / storage / source layers and a
  * `QueryExecutionListener` for the planning phases.
  *
  * Busy time is attributed to the repo's modules per Spark job. A job maps
  * through its `spark.sql.execution.id` to the call site of that
  * execution's start event, and the first `graft.*` frame of that call site
  * names the module (`graft.models.*` → models, `graft.incremental.*` →
  * incremental, any other `graft.*` → queries). Stage call sites are not
  * used: most stages are submitted from AQE and runner-pool threads whose
  * call site names no module. A job whose call site has no `graft.*` frame
  * (an action the benchmark itself issues) takes the layer the benchmark
  * set as the [[LayerProp]] local property around the call. */
final class Trace(cores: Int) extends SparkListener with QueryExecutionListener {
  import Trace._

  private val execLayer = mutable.Map[Long, String]()
  private val running = mutable.Map[Int, (String, Long)]()
  private val busy = mutable.Map[String, mutable.ArrayBuffer[(Long, Long)]]()
  private val stageRunMs = mutable.Map[(Int, Int), mutable.ArrayBuffer[Long]]()
  private val c = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)

  private def add(k: String, v: Double): Unit = c(k) = c(k) + v

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      layerOfCallSite(e.details).foreach(l => synchronized(execLayer(e.executionId) = l))
    case _ =>
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val props = Option(js.properties)
    val byExec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execLayer.get(id.toLong))
    val layer = byExec
      .orElse(js.stageInfos.headOption.flatMap(s => layerOfCallSite(s.details)))
      .orElse(props.flatMap(p => Option(p.getProperty(LayerProp))))
      .getOrElse("other")
    running(js.jobId) = (layer, js.time)
    add("scheduler.jobs", 1)
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
    running.remove(je.jobId).foreach { case (layer, start) =>
      busy.getOrElseUpdate(layer, mutable.ArrayBuffer()) += ((start, je.time))
      add("runner.job_ms", (je.time - start).toDouble)
    }
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
    add("scheduler.stages", 1)
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    add("scheduler.tasks", 1)
    val m = te.taskMetrics
    if (m != null) {
      val info = te.taskInfo
      add("exec.task_ms", m.executorRunTime.toDouble)
      add("exec.cpu_ms", m.executorCpuTime / 1e6)
      add("exec.gc_ms", m.jvmGCTime.toDouble)
      val overhead = m.executorRunTime + m.executorDeserializeTime +
        m.resultSerializationTime + info.gettingResultTime
      add("scheduler.delay_ms", math.max(0L, info.duration - overhead).toDouble)
      add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      add("storage.spill_disk_bytes", m.diskBytesSpilled.toDouble)
      add("storage.spill_mem_bytes", m.memoryBytesSpilled.toDouble)
      add("sources.input_bytes", m.inputMetrics.bytesRead.toDouble)
      add("sources.input_rows", m.inputMetrics.recordsRead.toDouble)
      stageRunMs.getOrElseUpdate((te.stageId, te.stageAttemptId), mutable.ArrayBuffer()) +=
        m.executorRunTime
    }
  }

  override def onBlockUpdated(bu: SparkListenerBlockUpdated): Unit = synchronized {
    val info = bu.blockUpdatedInfo
    if (info.blockId.isRDD && info.storageLevel.isValid)
      add("storage.ckpt_bytes", (info.memSize + info.diskSize).toDouble)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planned(qe)

  private def planned(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val files = PlanWalk.collect(qe.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
    synchronized {
      add("planning.executions", 1)
      add("planning.analysis_ms", phases.get("analysis").map(_.durationMs).getOrElse(0L).toDouble)
      add("planning.optimization_ms", phases.get("optimization").map(_.durationMs).getOrElse(0L).toDouble)
      add("planning.physical_ms", phases.get("planning").map(_.durationMs).getOrElse(0L).toDouble)
      add("sources.files_read", files.toDouble)
    }
  }

  /** The counters of everything seen so far, plus the derived ratios,
    * for a traced pass of `wallMs` milliseconds. */
  def metrics(wallMs: Double): Map[String, Double] = synchronized {
    val out = mutable.LinkedHashMap[String, Double]()
    CounterNames.foreach(k => out(k) = c(k))
    Layers.foreach(l => out(s"$l.busy_ms") = unionMs(busy.getOrElse(l, Nil).toSeq))
    out("exec.core_util") = if (wallMs > 0) c("exec.task_ms") / (wallMs * cores) else 0.0
    out("exec.skew_max") = stageRunMs.values.filter(_.size >= 2).map { ts =>
      val med = Stats.median(ts.map(_.toDouble).toSeq)
      if (med > 0) ts.max / med else 0.0
    }.foldLeft(0.0)(math.max)
    // mean number of jobs in flight while any job runs: > 1 only when the
    // DAG runner's pool overlaps model builds
    val allBusy = unionMs(busy.values.flatten.toSeq)
    out("incremental.runner_overlap") = if (allBusy > 0) c("runner.job_ms") / allBusy else 0.0
    out.toMap
  }
}

object Trace {
  /** Local property the benchmark sets around each engine call: the layer
    * a job falls back to when its call site names no `graft.*` frame. */
  val LayerProp = "perfbench.layer"

  val Layers: Seq[String] = Seq("models", "incremental", "queries")

  val CounterNames: Seq[String] = Seq(
    "planning.analysis_ms", "planning.optimization_ms", "planning.physical_ms",
    "planning.executions",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.delay_ms",
    "exec.task_ms", "exec.cpu_ms", "exec.gc_ms",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_ms",
    "storage.spill_disk_bytes", "storage.spill_mem_bytes", "storage.ckpt_bytes",
    "sources.input_bytes", "sources.input_rows", "sources.files_read")

  def layerOfCallSite(callSite: String): Option[String] =
    Option(callSite).toSeq.flatMap(_.linesIterator).map(_.trim)
      .find(_.startsWith("graft.")).map { frame =>
        if (frame.startsWith("graft.incremental.")) "incremental"
        else if (frame.startsWith("graft.models.")) "models"
        else "queries"
      }

  /** Total length of the union of [start, end) intervals, in ms. */
  def unionMs(intervals: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s; curEnd = e
      } else curEnd = math.max(curEnd, e)
    }
    if (curEnd > curStart) total += curEnd - curStart
    total.toDouble
  }

  /** Register a fresh trace on `spark`; the returned thunk unregisters it
    * once every event posted so far has been delivered. */
  def attach(spark: SparkSession, cores: Int): (Trace, () => Unit) = {
    val t = new Trace(cores)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    (t, () => {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(t)
      spark.listenerManager.unregister(t)
    })
  }
}

/** Walks adaptive plans into their final query stages. */
private object PlanWalk extends AdaptiveSparkPlanHelper
