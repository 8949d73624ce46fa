package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.{SparkEntry, Sources}
import graft.incremental.{RunContext, RunMode, SnapshotStore}
import graft.models.{DeepbookPipeline, PoolDailyFct}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.col
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.BasicFileAttributes
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Expected row count and row hash per query, committed next to the
  * benchmark (`expected.json`), keyed by workload then query. */
object Expected {
  private val mapper = new ObjectMapper()

  def load(path: String, workload: String, query: String): Option[RowHash.Fingerprint] =
    Option(mapper.readTree(Paths.get(path).toFile).path(workload).get(query))
      .map(q => RowHash.Fingerprint(q.get("rows").asLong, q.get("hash").asText))

  def write(path: String, workload: String, query: String, fp: RowHash.Fingerprint): Unit = {
    val root = mapper.createObjectNode()
    root.putObject(workload).putObject(query).put("rows", fp.rows).put("hash", fp.hash)
    mapper.writerWithDefaultPrettyPrinter().writeValue(Paths.get(path).toFile, root)
  }
}

/** `d14b_fuzzy_join_k2` over the committed `customer` table, through the
  * `noop` sink as `graft.Bench` does: the shuffle / explode / join funnel.
  * The input is fixed, so the seed does not change it; the untimed warm-up
  * checks the output's row count and row hash against `expected.json`. */
final class FuzzyJoin(a: Args) extends Workload {
  val primaryKind = "join"
  private val Query = "d14b_fuzzy_join_k2"
  private var dir = ""

  def prepare(ctx: Ctx, d: Path): Unit = {
    Files.createDirectories(d)
    val table = d.resolve("customer.parquet")
    Files.copy(Paths.get(a.dataDir, "customer.parquet"), table, StandardCopyOption.REPLACE_EXISTING)
    ctx.spark.read.parquet(table.toString).schema
    dir = d.toString
  }

  /** Drop the blocks one call left behind: its localCheckpoints are
    * unreachable once it returns (the same release as graft.Bench). */
  private def release(ctx: Ctx, before: Set[Int]): Unit = {
    ctx.spark.catalog.clearCache()
    ctx.spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => before.contains(id) }
      .values.foreach(_.unpersist(blocking = true))
  }

  private def call[T](ctx: Ctx, kind: String)(body: org.apache.spark.sql.DataFrame => T): Option[T] = {
    val before = ctx.spark.sparkContext.getPersistentRDDs.keySet.toSet
    try ctx.timed(kind, Query, "queries")(body(SparkEntry.queries(Query)(ctx.spark, dir)))
    finally release(ctx, before)
  }

  /** Untimed calls after the checked one: the first passes in a fresh JVM
    * still run 20-40% slower than the steady state. */
  private val WarmCalls = 1

  def warmUp(ctx: Ctx): Unit = {
    call(ctx, "warmup")(RowHash.of).foreach { fp =>
      if (a.writeExpected) Expected.write(a.expected, "fuzzy_join", Query, fp)
      else ctx.check(s"fuzzy_join.$Query") {
        Expected.load(a.expected, "fuzzy_join", Query) match {
          case None => Some("no expected value")
          case Some(e) if e != fp => Some(s"expected $e, got $fp")
          case _ => None
        }
      }
    }
    if (!a.smoke) (1 to WarmCalls).foreach(_ => call(ctx, "warmup")(noop))
  }

  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def pass(ctx: Ctx): Unit =
    call(ctx, primaryKind)(noop)
}

/** The paper's pipeline: a 30-day full-refresh bootstrap, then one
  * incremental DAG run per newly landed day (the sources' visibility
  * cut-off moves one day, as `dag_fct_incremental` slices them), each
  * followed by the
  * consumption reads (the README's SQL over the registered views) and
  * `readSkipping` point lookups on `transaction_digest`. */
final class DeepbookDag(a: Args) extends Workload {
  val primaryKind = "run"
  private val BackfillDays = 30
  private val LookupsPerRun = 4
  /** Days the timed loop may land: one per pass. */
  private val MaxRuns = Main.MaxPasses + 1
  private val gen =
    if (a.smoke) new DeepbookGen(a.seed, pools = 2, days = BackfillDays + MaxRuns, noisePerDay = 50)
    else new DeepbookGen(a.seed, pools = 6, days = BackfillDays + MaxRuns, noisePerDay = 600)

  private val work = Paths.get(a.workDir)
  private val store = work.resolve("dag-store").toString
  private var genDir = ""
  private var landed = -1
  private var borrowDigests = Map.empty[Int, Seq[String]]
  private val lookupRng = new scala.util.Random(a.seed)

  private val ShowSql: Seq[(String, String)] = Seq(
    "show_pool_tvl" ->
      """SELECT snapshot_date, coin_symbol, total_supply_usd AS tvl_usd,
        |       total_borrow_usd, utilization_rate
        |FROM fct_deepbook_margin_pool_daily
        |WHERE coin_symbol = 'USDC'
        |ORDER BY snapshot_date, margin_pool_id""".stripMargin,
    "show_total_tvl" ->
      """SELECT snapshot_date,
        |       sum(CAST(floor(total_supply_usd * 1000000.0 + 0.5) AS BIGINT)) AS total_tvl_usd_e6,
        |       sum(CAST(floor(total_borrow_usd * 1000000.0 + 0.5) AS BIGINT)) AS total_borrowed_usd_e6
        |FROM fct_deepbook_margin_pool_daily
        |GROUP BY 1
        |ORDER BY 1 DESC""".stripMargin,
    "show_borrow_volume" ->
      """SELECT snapshot_date, coin_symbol, daily_borrow_volume_usd, daily_repay_volume_usd
        |FROM fct_deepbook_margin_pool_daily
        |ORDER BY snapshot_date DESC, margin_pool_id""".stripMargin,
    "show_recent_loans" ->
      """SELECT timestamp_seconds(timestamp_ms div 1000) AS time,
        |       margin_pool_id, loan_amount / 1e6 AS loan_amount_normalized
        |FROM deepbook_margin_loan_borrowed
        |ORDER BY timestamp_ms DESC, transaction_digest, event_index""".stripMargin)

  def prepare(ctx: Ctx, d: Path): Unit = {
    val w = gen.write(ctx.spark, d.toString)
    ctx.say(s"deepbook sources: sha256 ${w.digest}; " + w.tables.toSeq.sorted.map {
      case (t, (rows, bytes)) => s"$t $rows rows $bytes bytes"
    }.mkString(", "))
    genDir = d.toString
    borrowDigests = (1 to gen.days).map(day => day -> gen.borrowDigests(day)).toMap
  }

  private def context(ctx: Ctx, mode: RunMode, day: Int, backfillDays: Int = BackfillDays) =
    RunContext(ctx.spark, gen.asOf(ctx.spark, genDir, day), mode, gen.dayEnd(day),
      backfillDays = backfillDays)

  def warmUp(ctx: Ctx): Unit = {
    Main.deleteTree(Paths.get(store))
    landed = BackfillDays
    val t0 = System.nanoTime()
    ctx.timed("bootstrap", "full_refresh", "models")(
      DeepbookPipeline.runner(store).run(context(ctx, RunMode.FullRefresh, landed)))
    ctx.layer("incremental.bootstrap_s") = (System.nanoTime() - t0) / 1e9
    // the bootstrap builds every model through the same merge path the
    // incremental runs take, so it doubles as the DAG's JIT warm-up
    reads(ctx, warm = true)
  }

  /** Land one more day, run the DAG incrementally, then read. */
  def pass(ctx: Ctx): Unit = {
    require(landed < gen.days, s"generated only ${gen.days} days; raise MaxRuns")
    landed += 1
    val before = if (ctx.tracing) StoreWalk(store) else null
    ctx.timed("run", s"day$landed", "models")(
      DeepbookPipeline.runner(store).run(context(ctx, RunMode.Incremental, landed)))
    if (ctx.tracing) {
      val after = StoreWalk(store)
      val fresh = after.files.filterNot { case (k, _) => before.files.contains(k) }
      ctx.layer("incremental.files_written") += fresh.size
      ctx.layer("incremental.bytes_written") += fresh.values.sum
      ctx.layer("incremental.live_bytes") = after.partitions.flatten.map(after.files).sum
      after.partitions.foreach { part =>
        if (part.forall(before.files.contains)) ctx.layer("incremental.partitions_linked") += 1
        else ctx.layer("incremental.partitions_rewritten") += 1
      }
    }
    reads(ctx, warm = false)
  }

  private def reads(ctx: Ctx, warm: Boolean): Unit = {
    val kind = if (warm) "warm_read" else "read"
    val spark = ctx.spark
    ctx.timed(kind, "register_views", "incremental")(DeepbookPipeline.registerViews(spark, store))
    ShowSql.foreach { case (name, sql) =>
      ctx.timed(kind, name, "incremental")(spark.sql(sql).collect()).foreach { rows =>
        ctx.check(s"deepbook_dag.$name") {
          if (rows.isEmpty) Some("returned no rows") else None
        }
      }
    }
    val table = s"$store/deepbook_margin_loan_borrowed"
    (1 to LookupsPerRun).foreach { _ =>
      val day = 1 + lookupRng.nextInt(landed)
      val digest = borrowDigests(day)(lookupRng.nextInt(borrowDigests(day).size))
      ctx.timed(if (warm) "warm_read" else "lookup", digest, "incremental") {
        val hit = SnapshotStore.readSkipping(spark, table).get._1
          .filter(col("transaction_digest") === digest)
        (hit.collect().length, hit.queryExecution.executedPlan)
      }.foreach { case (n, plan) =>
        if (ctx.tracing) ctx.layer("incremental.lookup_files_read") += PlanWalk.collect(plan) {
          case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        }.sum
        ctx.check(s"deepbook_dag.lookup") {
          if (n != 1) Some(s"digest $digest matched $n rows, expected 1") else None
        }
      }
    }
  }

  /** After the last run, every model table must equal a full-refresh
    * build over the same sources (the same event window), apart from the
    * `updated_at` audit column. The daily fact's three `daily_*_change`
    * lag columns are the documented exception: like the reference, an
    * incremental run re-computes them over the lookback window only, so
    * the window's first day reads NULL (see `dag_fct_incremental`). They
    * must still equal the full refresh on every row where they are set. */
  override def finish(ctx: Ctx): Unit = {
    val reads = ctx.ops.filter(o => o.ok && (o.kind == "read" || o.kind == "lookup")).map(_.seconds * 1000)
    if (reads.nonEmpty) ctx.layer("incremental.read_p50_ms") = Stats.median(reads.toSeq)
    val live = ctx.layer("incremental.live_bytes")
    if (live > 0) ctx.layer("incremental.write_amp") = ctx.layer("incremental.bytes_written") / live
    val full = work.resolve("dag-full").toString
    Main.deleteTree(Paths.get(full))
    ctx.timed("check", "full_refresh", "models")(
      DeepbookPipeline.runner(full).run(context(ctx, RunMode.FullRefresh, landed, backfillDays = landed)))
    def table(root: String, m: String) = SnapshotStore.read(ctx.spark, s"$root/$m").get.drop("updated_at")
    DeepbookPipeline.models.foreach { m =>
      ctx.check(s"deepbook_dag.incremental_equals_full_refresh.${m.name}") {
        val lag = if (m.name == PoolDailyFct.name) LagColumns else Nil
        def fp(root: String) = RowHash.of(table(root, m.name).drop(lag: _*))
        val (inc, ref) = (fp(store), fp(full))
        if (inc != ref) Some(s"incremental $inc, full refresh $ref") else None
      }
    }
    ctx.check(s"deepbook_dag.incremental_lag_columns") {
      val (inc, ref) = (table(store, PoolDailyFct.name).as("i"), table(full, PoolDailyFct.name).as("f"))
      val keys = PoolDailyFct.uniqueKey
      val joined = inc.join(ref, keys.map(k => col(s"i.$k") === col(s"f.$k")).reduce(_ && _), "full_outer")
      val bad = joined.filter(LagColumns.map { c =>
        col(s"i.$c").isNotNull && !(col(s"i.$c") <=> col(s"f.$c"))
      }.reduce(_ || _) || keys.map(k => col(s"i.$k").isNull || col(s"f.$k").isNull).reduce(_ || _)).count()
      if (bad > 0) Some(s"$bad daily-fact rows disagree with the full refresh") else None
    }
  }

  private val LagColumns = Seq("daily_supply_change", "daily_borrow_change", "daily_utilization_change")
}

/** Every data file under a store root keyed by file identity (hard-linked
  * carry-over shares it), and each live snapshot partition's file keys. */
final case class StoreWalk(files: Map[AnyRef, Long], partitions: Seq[Seq[AnyRef]])

object StoreWalk {
  def apply(root: String): StoreWalk = {
    val files = mutable.Map[AnyRef, Long]()
    val parts = mutable.ArrayBuffer[Seq[AnyRef]]()
    def dataFiles(dir: Path): Seq[(AnyRef, Long)] = {
      val s = Files.walk(dir)
      try s.iterator.asScala.filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .map { p =>
          val at = Files.readAttributes(p, classOf[BasicFileAttributes])
          (at.fileKey, at.size)
        }.toSeq
      finally s.close()
    }
    val rootPath = Paths.get(root)
    if (Files.isDirectory(rootPath)) {
      val tables = Files.list(rootPath)
      try tables.iterator.asScala.filter(Files.isDirectory(_)).foreach { t =>
        files ++= dataFiles(t)
        SnapshotStore.currentSnapshot(t.toString).foreach { snap =>
          val snapDir = t.resolve(snap)
          val ls = Files.list(snapDir)
          try {
            val (partDirs, _) = ls.iterator.asScala.toSeq.partition(p =>
              Files.isDirectory(p) && p.getFileName.toString.startsWith(s"${SnapshotStore.PartCol}="))
            if (partDirs.isEmpty) parts += dataFiles(snapDir).map(_._1)
            else partDirs.foreach(p => parts += dataFiles(p).map(_._1))
          } finally ls.close()
        }
      } finally tables.close()
    }
    StoreWalk(files.toMap, parts.toSeq)
  }
}
