package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** How one query run is timed — the methodology [[Bench]],
  * [[ProtocolBench]] and [[Profile]] share, kept in one place so the
  * three ledgers cannot drift apart:
  *
  *   - a `local[cpus]` session ([[session]], the one every graft main
  *     runs in);
  *   - a warm-up on the tiny flagship [[SparkEntry.entry]], so the first
  *     measured query isn't charged for classloading and whole-stage-
  *     codegen compilation ([[warmSession]]);
  *   - full materialization through the `noop` sink: a bare `count()`
  *     would let Catalyst eliminate final global sorts and all column
  *     projections, systematically undertiming sort/projection-heavy
  *     queries, while the noop sink evaluates every row of every column
  *     and discards the bytes;
  *   - after every run, the release of the persisted RDDs that run
  *     created ([[time]]);
  *   - the [[median]] of the runs: first runs carry JIT + codegen
  *     compilation (routinely 2-4× the steady state), so single-shot
  *     numbers can't tell a regression from warmup noise.
  */
object Harness {
  def session(cpus: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // localCheckpoint blocks (the pipeline queries' shared-scan seams) are
    // only dropped by the ContextCleaner after their DataFrames are GC'd;
    // the 30-minute default periodicGC lets ~40 min of queries pile blocks
    // up until eviction + GC thrash distorts every later query
    .config("spark.cleaner.periodicGC.interval", "30s")
    .getOrCreate()

  /** [[session]] at log level ERROR, warmed up on [[SparkEntry.entry]]. */
  def warmSession(cpus: String): SparkSession = {
    val spark = session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    try noop(SparkEntry.entry(spark)) catch { case _: Throwable => () }
    spark
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Seconds of each of `runs` runs of `query`, built and materialized
    * inside the timer (pipeline queries run eager localCheckpoints at
    * construction). A run that throws goes to `onFailure`; its time still
    * counts unless `onFailure` rethrows.
    *
    * Between runs the session's caches are cleared and, when `release`
    * is set, every persisted RDD this run created is unpersisted. Only
    * those: a localCheckpoint block that some later cross-query state
    * still references is unrecoverable once unpersisted. clearCache +
    * System.gc alone only frees localCheckpoint blocks once the GC
    * collects the referencing DataFrames and the async ContextCleaner
    * drains its queue, so checkpoint-heavy queries would pile storage
    * blocks onto queries run long after them. */
  def time(spark: SparkSession, runs: Int, release: Boolean = true)
          (query: => DataFrame)(onFailure: Throwable => Unit): Seq[Double] =
    (1 to runs).map { _ =>
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val t0 = System.nanoTime()
      try noop(query) catch { case e: Throwable => onFailure(e) }
      val sec = (System.nanoTime() - t0) / 1e9
      spark.sqlContext.clearCache()
      if (release)
        spark.sparkContext.getPersistentRDDs
          .filterNot { case (id, _) => before.contains(id) }
          .values.foreach(_.unpersist(blocking = true))
      System.gc() // lets the ContextCleaner reap dead localCheckpoints NOW
      sec
    }

  /** The median seconds of each query in `names`, in order, with each
    * name's failed-run count. A failed run is reported on stderr under
    * `tag` and its time kept, so the count must ride along: a crash
    * typically returns in milliseconds and must not read as a speed-up. */
  def medians(spark: SparkSession, sfDir: String, names: Seq[String], runs: Int,
              tag: String, release: Boolean = true)
      : (Seq[(String, Double)], collection.Map[String, Int]) = {
    val failures = collection.mutable.Map[String, Int]()
    val results = names.map { name =>
      name -> median(time(spark, runs, release)(SparkEntry.queries(name)(spark, sfDir)) { e =>
        failures(name) = failures.getOrElse(name, 0) + 1
        System.err.println(s"[$tag] $name failed: ${e.getMessage}")
      })
    }
    (results, failures)
  }

  /** The median; for an even count, the mean of the two middle values. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no runs")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** One ledger line: `{"metric":…,"value":total,…,"queries":{…}}` over
    * the timed `results`, listing the `shown` subset under "queries" and
    * every query with a failed run under "failed_runs". */
  def ledgerLine(metric: String, results: Seq[(String, Double)],
                 shown: Seq[(String, Double)], failures: collection.Map[String, Int],
                 sfDir: String, runs: Int): String = {
    def obj(kv: Seq[(String, Any)]): String =
      kv.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val (worstName, worst) = results.maxBy(_._2)
    s"""{"metric":"$metric","value":$total,"unit":"sec","worst":$worst,"worst_query":"$worstName","sf":"$sfDir","runs_per_query":$runs,"failed_runs":${obj(failures.toSeq.sortBy(_._1))},"queries":${obj(shown)}}"""
  }

  /** Writes `line` to `path`, creating its directory; a failure is
    * reported on stderr, not thrown (the line is already on stdout). */
  def persist(path: String, line: String, tag: String): Unit =
    try {
      val out = java.nio.file.Paths.get(path)
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.writeString(out, line + "\n")
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[$tag] could not persist $path: $e")
    }
}
