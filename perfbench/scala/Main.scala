package perfbench

import org.apache.spark.sql.SparkSession
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Command-line options of one benchmark run (set by `run.py`). */
final case class Args(
    workload: String = "",
    seed: Long = 1L,
    seconds: Double = 10.0,
    trace: Boolean = false,
    cores: Int = 4,
    dataDir: String = "",
    workDir: String = "",
    expected: String = "",
    writeExpected: Boolean = false,
    smoke: Boolean = false)

/** One timed call into the engine. A call that throws is not a latency
  * sample; it counts as a failed op. */
final case class Op(kind: String, name: String, seconds: Double, ok: Boolean)

/** What a workload sees of the run: the session, the options, the ops
  * timed so far and the per-layer counters it owns (filled only while a
  * traced pass runs). */
final class Ctx(val spark: SparkSession, val args: Args) {
  val ops: mutable.ArrayBuffer[Op] = mutable.ArrayBuffer()
  val problems: mutable.ArrayBuffer[String] = mutable.ArrayBuffer()
  var checks = 0
  var tracing = false
  val layer: mutable.Map[String, Double] = mutable.Map[String, Double]().withDefaultValue(0.0)

  def say(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Run `body` as one timed engine call of `kind`, attributing jobs that
    * name no `graft.*` frame to `layer`. */
  def timed[T](kind: String, name: String, layer: String)(body: => T): Option[T] = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Trace.LayerProp, layer)
    val t0 = System.nanoTime()
    try {
      val r = body
      ops += Op(kind, name, (System.nanoTime() - t0) / 1e9, ok = true)
      Some(r)
    } catch {
      case NonFatal(e) =>
        ops += Op(kind, name, (System.nanoTime() - t0) / 1e9, ok = false)
        problems += s"$kind $name threw: $e"
        None
    } finally sc.setLocalProperty(Trace.LayerProp, null)
  }

  /** One correctness check; `None` passes, `Some(why)` fails. */
  def check(name: String)(result: => Option[String]): Unit = {
    checks += 1
    val why = try result catch { case NonFatal(e) => Some(s"threw $e") }
    why.foreach(w => problems += s"check $name: $w")
  }
}

/** A closed-loop workload: one client issues each call after the previous
  * one returns. */
trait Workload {
  /** The op kind whose median is `op_p50_s`. */
  def primaryKind: String
  /** One set-up: make this run's inputs under the empty directory `dir`.
    * Called several times; the inputs of the last call are used. */
  def prepare(ctx: Ctx, dir: Path): Unit
  /** Untimed first pass: warms the JVM and checks every output. */
  def warmUp(ctx: Ctx): Unit
  /** One timed pass. */
  def pass(ctx: Ctx): Unit
  /** Untimed checks after the timed passes. */
  def finish(ctx: Ctx): Unit = ()
}

object Main {
  val SetupReps = 3
  /** Upper bound on timed passes per run (a fast machine finishes a pass
    * well inside `--seconds`); workloads size their inputs for it. */
  val MaxPasses = 7

  /** Every per-layer metric, in the order BENCHMARK.json lists them. */
  def perLayerNames: Seq[String] = Seq(
    "planning.analysis_ms", "planning.optimization_ms", "planning.physical_ms",
    "planning.executions",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.delay_ms",
    "exec.task_ms", "exec.cpu_ms", "exec.gc_ms", "exec.core_util", "exec.skew_max",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_ms",
    "storage.spill_disk_bytes", "storage.spill_mem_bytes", "storage.ckpt_bytes",
    "sources.input_bytes", "sources.input_rows", "sources.files_read",
    "models.busy_ms", "incremental.busy_ms", "queries.busy_ms",
    "incremental.files_written", "incremental.bytes_written", "incremental.write_amp",
    "incremental.partitions_rewritten", "incremental.partitions_linked",
    "incremental.lookup_files_read", "incremental.runner_overlap",
    "incremental.bootstrap_s", "incremental.read_p50_ms",
    "jvm.heap_peak_mb", "trace.wall_s", "trace.overhead_s")

  def perLayerUnit(name: String): String = name.split('.').last match {
    case n if n.endsWith("_ms") => "ms"
    case n if n.endsWith("_s") => "s"
    case n if n.endsWith("_bytes") || n.startsWith("bytes_") => "bytes"
    case n if n.endsWith("_mb") => "MB"
    case "core_util" | "skew_max" | "write_amp" | "runner_overlap" => "ratio"
    case _ => "count"
  }

  def parse(argv: Array[String]): Args = {
    def go(rest: List[String], a: Args): Args = rest match {
      case Nil => a
      case "--workload" :: v :: t => go(t, a.copy(workload = v))
      case "--seed" :: v :: t => go(t, a.copy(seed = v.toLong))
      case "--seconds" :: v :: t => go(t, a.copy(seconds = v.toDouble))
      case "--trace" :: v :: t => go(t, a.copy(trace = v == "1"))
      case "--cores" :: v :: t => go(t, a.copy(cores = v.toInt))
      case "--data" :: v :: t => go(t, a.copy(dataDir = v))
      case "--work" :: v :: t => go(t, a.copy(workDir = v))
      case "--expected" :: v :: t => go(t, a.copy(expected = v))
      case "--write-expected" :: t => go(t, a.copy(writeExpected = true))
      case "--smoke" :: t => go(t, a.copy(smoke = true))
      case other :: _ => sys.error(s"unknown argument $other")
    }
    go(argv.toList, Args())
  }

  def session(a: Args): SparkSession = {
    val local = Paths.get(a.workDir, "spark-local").toAbsolutePath.toString
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", Paths.get(a.workDir, "warehouse").toAbsolutePath.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl: Workload = a.workload match {
      case "deepbook_dag" => new DeepbookDag(a)
      case "fuzzy_join" => new FuzzyJoin(a)
      case other => sys.error(s"unknown workload $other")
    }
    val t0 = System.nanoTime()
    val spark = session(a)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, a)
    try {
      val prepS = (1 to SetupReps).map { r =>
        val dir = Paths.get(a.workDir, s"inputs-$r")
        deleteTree(dir)
        val s0 = System.nanoTime()
        wl.prepare(ctx, dir)
        (System.nanoTime() - s0) / 1e9
      }
      (1 until SetupReps).foreach(r => deleteTree(Paths.get(a.workDir, s"inputs-$r")))
      val w0 = System.nanoTime()
      wl.warmUp(ctx)
      val warmS = (System.nanoTime() - w0) / 1e9
      val setupS = sessionS + Stats.median(prepS) + warmS
      ctx.say(f"setup: session $sessionS%.2fs, inputs median ${Stats.median(prepS)}%.2fs of $prepS, warm-up $warmS%.2fs")
      val warmOps = ctx.ops.size

      def timedPass(): Double = {
        val p0 = System.nanoTime()
        wl.pass(ctx)
        (System.nanoTime() - p0) / 1e9
      }
      val metrics: Seq[(String, Double, String)] =
        if (!a.trace) {
          val passes = mutable.ArrayBuffer[Double]()
          val m0 = System.nanoTime()
          while (passes.isEmpty || ((System.nanoTime() - m0) / 1e9 < a.seconds && passes.size < MaxPasses))
            passes += timedPass()
          wl.finish(ctx)
          val primary = ctx.ops.drop(warmOps).filter(o => o.ok && o.kind == wl.primaryKind).map(_.seconds)
          ctx.say(s"passes ${passes.map(p => f"$p%.3f").mkString(",")}; ${primary.size} ${wl.primaryKind} ops")
          Seq(("setup_s", setupS, "s"),
            ("wall_s", Stats.median(passes.toSeq), "s"),
            ("op_p50_s", if (primary.isEmpty) 0.0 else Stats.median(primary.toSeq), "s"))
        } else {
          // untraced passes on both sides of the traced one, so the JIT's
          // pass-to-pass speed-up does not read as tracing overhead
          val before = timedPass()
          heapPools.foreach(_.resetPeakUsage())
          val (trace, detach) = Trace.attach(spark, a.cores)
          ctx.tracing = true
          val traced = try timedPass() finally { ctx.tracing = false; detach() }
          val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
          val after = timedPass()
          wl.finish(ctx)
          ctx.say(f"untraced passes $before%.3fs and $after%.3fs, traced pass $traced%.3fs")
          val all = trace.metrics(traced * 1000) ++ ctx.layer ++ Map(
            "jvm.heap_peak_mb" -> heapPeakMb,
            "trace.wall_s" -> traced,
            "trace.overhead_s" -> (traced - Stats.median(Seq(before, after))))
          perLayerNames.map(n => (n, all.getOrElse(n, 0.0), perLayerUnit(n)))
        }
      ctx.say(ctx.ops.map(o => f"${o.kind}:${o.name}=${o.seconds}%.3f").mkString(" "))
      ctx.problems.foreach(p => ctx.say(s"FAILED $p"))
      // each thrown op and each failed check leaves exactly one problem
      val attempted = ctx.ops.size + ctx.checks
      val failed = ctx.problems.size
      val body = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      println(s"""{"correct": ${ctx.problems.isEmpty}, "attempted": $attempted, "failed": $failed, "metrics": {${body.mkString(", ")}}}""")
    } finally spark.stop()
  }
}
