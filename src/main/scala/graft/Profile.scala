package graft

/** The per-query timer for perf work: runs the given query names N times
  * each with [[Bench]]'s methodology ([[Harness]]) and prints every run's
  * seconds plus the median — so a regression can be told apart from
  * JIT/neighbor noise before believing it. A query that throws aborts the
  * run; an unknown name is reported and makes the exit status 1.
  * Usage: Profile [sfDir] [repeats] [name...]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val repeats = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    val names = if (args.length > 2) args.drop(2).toSeq
      else Seq("q1_pricing_summary", "j4_expr_key_join", "j6_range_join",
        "m1_multimodal_meta", "d2_minhash_lsh")
    val spark = Harness.warmSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    var sawUnknown = false
    names.foreach { n =>
      SparkEntry.queries.get(n) match {
        case None =>
          // a typo must not abort the names after it — but it must not
          // exit 0 either, or a scripted perf gate checks nothing
          sawUnknown = true
          System.err.println(s"$n: unknown query (known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")})")
        case Some(q) =>
          val times = Harness.time(spark, repeats)(q(spark, sfDir))(e => throw e)
          val med = Harness.median(times)
          println(f"$n%-24s median=$med%7.3f  runs=${times.map(t => f"$t%.3f").mkString(",")}")
      }
    }
    spark.stop()
    if (sawUnknown) sys.exit(1)
  }
}
