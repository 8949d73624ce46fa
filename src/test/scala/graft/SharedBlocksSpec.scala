package graft

import graft.queries.PipelineQueries.{e6, e6Array, lloydUpdate, KmOff}
import org.apache.spark.sql.functions._

/** The building blocks every exact vector/sketch operator shares: the
  * 1e-6 fixed-point rounding (Column form, array form, Scala twin) and
  * Lloyd's HALF_UP centroid update. */
class SharedBlocksSpec extends SparkSpec {
  import spark.implicits._

  // ±k.5e-6 sit on the rounding boundary (x·1e6 lands within an ulp of
  // k + 0.5, either side), plus signed zeros, plain negatives and
  // magnitudes whose 1e6 scaling nears the long range
  private val boundary: Seq[Double] =
    Seq(0.0, -0.0, 1e-7, -1e-7, 0.3, -0.3, 1.0, -1.0, 0.999999, -0.999999,
      123456.789, -123456.789, 1e12, -1e12, 9.0e12, -9.0e12) ++
      Seq(0, 1, 2, 3, 7, 41, 499999, 1234567).flatMap(k =>
        Seq((k + 0.5) * 1e-6, -(k + 0.5) * 1e-6, (2 * k + 1) / 2e6, -(2 * k + 1) / 2e6))

  test("e6: the Column rounding, the array quantizer and the Scala twin agree bit for bit, with and without KmOff") {
    val df = boundary.zipWithIndex.map { case (x, i) => (i, x) }.toDF("i", "x")
    val got = df.select(col("i"), e6(col("x")).as("r"))
      .as[(Int, Long)].collect().toMap
    boundary.zipWithIndex.foreach { case (x, i) =>
      assert(got(i) == e6(x), s"e6($x): column ${got(i)} vs scala ${e6(x)}")
    }
    val arr = Seq(boundary).toDF("v")
    for (off <- Seq(0L, KmOff)) {
      val q = arr.select(e6Array(col("v"), off)).as[Seq[Long]].head()
      assert(q == boundary.map(e6(_) + off), s"e6Array(off = $off)")
    }
    // float embeddings are widened to double before rounding
    val fs = boundary.filter(math.abs(_) < 1e6).map(_.toFloat)
    val qf = Seq(fs).toDF("v").select(e6Array(col("v"), KmOff)).as[Seq[Long]].head()
    assert(qf == fs.map(f => e6(f.toDouble) + KmOff))
    // fixed points of the rounding
    assert(Seq(0.0, -0.0, 1.0, -1.0, 0.25).map(e6(_)) == Seq(0L, 0L, 1000000L, -1000000L, 250000L))
  }

  test("lloydUpdate: HALF_UP integer means (exact .5 rounds up), one row per key in ascending key order") {
    val df = Seq(
      4 -> Seq(1L, 0L), 4 -> Seq(1L, 0L), 4 -> Seq(2L, 1L), // 4/3, 1/3: round down
      3 -> Seq(1L, 10L), 3 -> Seq(2L, 11L),                // 1.5, 10.5: round up
      2 -> Seq(2L, 11L),                                   // ties cell 3's centroid
      1 -> Seq(1L, 2L), 1 -> Seq(2L, 3L))                  // 1.5, 2.5: round up
      .toDF("cell", "v")
    assert(lloydUpdate(df, Seq(col("cell")), "v", 2) == Seq(
      Seq(1) -> Seq(2L, 3L), Seq(2) -> Seq(2L, 11L),
      Seq(3) -> Seq(2L, 11L), Seq(4) -> Seq(1L, 0L)))
    // the PQ shape: (subspace, code) keys order lexicographically
    val pq = Seq((1, 0, Seq(4L)), (0, 1, Seq(7L)), (0, 0, Seq(1L)), (0, 0, Seq(2L)))
      .toDF("m", "code", "su")
    assert(lloydUpdate(pq, Seq(col("m"), col("code")), "su", 1) == Seq(
      Seq(0, 0) -> Seq(2L), Seq(0, 1) -> Seq(7L), Seq(1, 0) -> Seq(4L)))
  }
}
