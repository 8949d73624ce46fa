package perfbench

import org.apache.spark.sql.SparkSession

/** Checks of the benchmark's own helpers, run by `selftest.py`: the stats
  * helper's interpolated percentiles (the even-count median is the mean of
  * the two middle values) and the row hash's independence from row order,
  * column order and float noise below 9 decimal places. Exits non-zero on
  * the first failure. */
object SelfCheck {
  private def same(got: Double, want: Double, what: String): Unit =
    require(math.abs(got - want) < 1e-12, s"$what: got $got, want $want")

  def main(args: Array[String]): Unit = {
    same(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5, "even-count median")
    same(Stats.median(Seq(3.0, 1.0, 2.0)), 2.0, "odd-count median")
    val s = Stats.summary(Seq(5.0, 1.0, 4.0, 2.0, 3.0))
    require(s.n == 5, s"summary count ${s.n}")
    same(s.p25, 2.0, "p25")
    same(s.p75, 4.0, "p75")
    same(Stats.percentile(Seq(10.0, 20.0), 90.0), 19.0, "p90 of two")
    same(Stats.percentile(Seq(7.0), 50.0), 7.0, "single sample")

    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selfcheck")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      import spark.implicits._
      val a = Seq((1L, 0.1 + 0.2, "x"), (2L, -0.0, "y"), (2L, -0.0, "y")).toDF("k", "v", "s")
      val b = Seq(("y", 0.0, 2L), ("x", 0.3, 1L), ("y", 0.0, 2L)).toDF("s", "v", "k")
      val c = Seq((1L, 0.3, "x"), (2L, 0.0, "y")).toDF("k", "v", "s")
      val d = Seq((1L, 0.3000001, "x"), (2L, 0.0, "y"), (2L, 0.0, "y")).toDF("k", "v", "s")
      val (fa, fb) = (RowHash.of(a), RowHash.of(b.repartition(3)))
      require(fa == fb, s"row/column order or 9-dp noise changed the hash: $fa vs $fb")
      require(fa.rows == 3, s"row count ${fa.rows}")
      require(RowHash.of(c) != fa, "a dropped duplicate row kept the hash")
      require(RowHash.of(d) != fa, "a change above 9 dp kept the hash")
    } finally spark.stop()
    System.err.println("[perfbench] self-check passed")
  }
}
